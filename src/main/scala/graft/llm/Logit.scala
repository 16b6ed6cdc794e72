package graft.llm

import graft.core.{Jobs, Pin}
import graft.model.RunModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document filtering: logistic regression trained by IRLS
  * (iteratively reweighted least squares) over the corpus — the
  * fastText/CCNet-style quality-classifier pattern (train a linear model
  * on a labeled seed set, score every document, keep above threshold)
  * re-expressed as Spark aggregates.
  *
  * Scale shape: ONE weighted-Gram aggregate per IRLS iteration — the
  * [[graft.model.RunModel.gramFit]] pattern with per-row weights
  * `w = p(1−p)` folded into the sums, map-side combined to
  * (k+1)(k+4)/2 doubles per task — and a driver-side (k+1)×(k+1) solve
  * ([[RunModel.invertSpd]], shared with OLS/MICE). Driver state is
  * O(k²) per iteration; corpus size only enters through the scan, and at
  * 1000 executors each iteration is one partial-aggregate round. Scoring
  * is a pure codegen projection of the broadcast coefficient vector.
  *
  * Determinism: IRLS from β = 0 for a FIXED iteration count is a pure
  * function of the data up to float summation order in the aggregates
  * (~1e-15 relative); the spec checks coefficients against an
  * independent numpy IRLS on the same fixture (`tools/logit_golden.py`,
  * the [[graft.na.Mice]] golden pattern) and the declared q124 is
  * rows-only by design, like the other iterative-solver outputs.
  */
object Logit {

  /** Fitted model: coefficients in `1.0 +: features` order (intercept
    * first), the fixed iteration count it ran, and the complete-row
    * count it trained on.
    */
  final case class LogitFit(beta: Array[Double], iters: Int, n: Long)

  /** IRLS fit of P(label | features). `label` must be 0/1 (booleans are
    * cast); rows with any null feature/label are excluded (the
    * [[RunModel.gramFit]] listwise rule). `ridge` stabilizes separable /
    * near-collinear designs the way MICE's column models do.
    */
  def fit(
      df: DataFrame,
      label: Column,
      features: Seq[Column],
      iters: Int = 8,
      ridge: Double = 1e-6): LogitFit = {
    require(features.nonEmpty, "logit: no features")
    require(iters >= 1, s"logit: iters must be >= 1, got $iters")
    val rawXs: Seq[Column] = lit(1.0) +: features.map(_.cast("double"))
    val rawY               = label.cast("double")
    val k                  = rawXs.size
    // materialize the design matrix ONCE: every IRLS iteration aggregates
    // over the same (y, x0..xk) projection, and without this each of the
    // `iters` jobs re-runs the source scan + feature expressions (regexes,
    // string ops) — measured 3.1 s -> ~1 s on q124 at sf0.1. k+1 doubles
    // per complete row, spilled to disk if it outgrows memory
    // listwise-exclude NaN as well as null: a NaN feature (0/0 from an
    // upstream ratio) passes isNotNull and would silently poison every Gram
    // sum into NaN coefficients
    val complete = df
      .where((rawY +: rawXs).map(c => c.isNotNull && !isnan(c)).reduce(_ && _))
      .select(rawY.as("__y") +: rawXs.zipWithIndex.map { case (x, i) => x.as(s"__x$i") }: _*)
    val xs: Seq[Column] = (0 until k).map(i => col(s"__x$i"))
    val y               = col("__y")

    var beta = Array.fill(k)(0.0)
    var n    = 0L
    Pin.scoped(complete)(design => for (_ <- 1 to iters) {
      val eta = xs.zip(beta.toIndexedSeq).map { case (x, b) => x * lit(b) }.reduce(_ + _)
      val p   = lit(1.0) / (lit(1.0) + exp(-eta))
      val w   = p * (lit(1.0) - p) + lit(1e-12)
      // working response folded in: X'Wz with z = η + (y−p)/w is
      // X'(Wη + (y−p)) — no division by a vanishing weight
      val r = w * eta + (y - p)
      val aggs: Seq[Column] =
        (for { i <- 0 until k; j <- i until k }
          yield sum(w * xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
          (0 until k).map(i => sum(xs(i) * r).as(s"xr_$i")) ++
          Seq(count(lit(1)).as("n"))
      val row = Jobs.collectFast(design.agg(aggs.head, aggs.tail: _*))(0)
      val xtx = Array.tabulate(k, k) { (i, j) =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        row.getAs[Double](s"xx_${a}_$b") + (if (i == j) ridge else 0.0)
      }
      val xr  = Array.tabulate(k)(i => row.getAs[Double](s"xr_$i"))
      val inv = RunModel.invertSpd(xtx)
      beta = Array.tabulate(k)(i => (0 until k).map(j => inv(i)(j) * xr(j)).sum)
      n = row.getAs[Long]("n")
    })
    LogitFit(beta, iters, n)
  }

  /** Sigmoid score column for a fitted model — one codegen projection. */
  def scoreCol(features: Seq[Column], model: LogitFit): Column = {
    val xs  = lit(1.0) +: features.map(_.cast("double"))
    val eta = xs.zip(model.beta.toIndexedSeq).map { case (x, b) => x * lit(b) }.reduce(_ + _)
    lit(1.0) / (lit(1.0) + exp(-eta))
  }

  /** Score + keep flag at `threshold` for every row. */
  def score(
      df: DataFrame,
      idCol: Column,
      features: Seq[Column],
      model: LogitFit,
      threshold: Double = 0.5): DataFrame = {
    val s = round(scoreCol(features, model), 6)
    df.select(idCol.as("doc_id"), s.as("score"), (s >= lit(threshold)).as("keep"))
  }
}
