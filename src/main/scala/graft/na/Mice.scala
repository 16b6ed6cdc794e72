package graft.na

import graft.core.{Cols, GraftFrame, Pin}
import graft.functions.ProbitFunctions
import graft.model.RunModel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MICE — multiple imputation by chained equations; reference
  * `wrangle_na(strategy="mice")` (`/root/reference/src/tasks.py:443–472`):
  * burn-in `nBurnin` sweeps, then `nImputations` saved datasets separated
  * by `nSpread` sweeps each; output = the saved datasets stacked with an
  * `iter` column (the Spark form of the reference's MultiIndex(iter,index))
  * → cardinality = nImputations × input rows. Integer targets coerce to
  * double (post-condition tasks.py:357–360).
  *
  * The reference drives statsmodels `MICEData`; cross-RNG bit-exactness is
  * impossible, so the contract is the SURVEY.md §5 distribution-level one:
  * no nulls in output, correct cardinality, imputed-column moments near the
  * observed ones — asserted in MiceSpec. OUR runs are deterministic: each
  * sweep fits a Bayesian-flavored linear model per target column via the
  * one-pass Gram aggregate, and the posterior noise is a hash-seeded
  * probit draw (codegen'd AS241, [[graft.functions.ProbitInv]]) keyed by
  * (row, column, sweep, seed), so the same input always yields the same
  * imputations.
  *
  * Sweep scheduling: the default is a JACOBI sweep — every target column
  * is refit and redrawn from the PREVIOUS sweep's values, which batches
  * all Gram aggregates into ONE job per sweep (`RunModel.gramFitBatch`)
  * and all draws into one projection. At the reference schedule
  * (20 burn-in + 10×20 spread = 220 sweeps) that is ~220 jobs instead of
  * the ~220×targets a chained scan would issue. `chained = true` restores
  * the reference's Gauss-Seidel update order (statsmodels MICEData sweeps
  * columns sequentially, each seeing the current sweep's earlier draws) at
  * one job per column per sweep; both converge to the same stationary
  * distribution. DELIBERATE DEFAULT DEVIATION: the reference's update
  * order is Gauss-Seidel, so `chained = true` is the parity mode — Jacobi
  * is the default because the gate for this operator is the
  * distribution-level contract (SURVEY.md §5), under which the two are
  * equivalent, and Jacobi is ~targets× fewer jobs per sweep. Callers who
  * need reference update semantics (not just the reference distribution)
  * pass `chained = true`.
  *
  * Scale notes: state between sweeps is one DataFrame, cut every five
  * sweeps; only the save points' pins outlive the loop, because the
  * snapshots read them. All per-row math is codegen'd
  * projections; the only driver-side state is k×k Gram matrices.
  */
object Mice {

  /** Sweeps between cuts of the working frame. */
  private val CheckpointEvery = 5

  def apply(
      gf: GraftFrame,
      rowId: String,
      nBurnin: Int = 20,
      nImputations: Int = 10,
      nSpread: Int = 20,
      seed: Long = 42L,
      chained: Boolean = false): DataFrame = {
    val df = gf.df
    // booleans participate as 0/1 linear-probability columns in the chained
    // equations and are thresholded back to boolean in the output
    val boolCols = df.schema.fields.collect {
      case f if f.dataType == BooleanType && f.name != rowId => f.name
    }.toIndexedSeq.toSet
    val numericCols = df.schema.fields.collect {
      case f if (f.dataType.isInstanceOf[NumericType] || f.dataType == BooleanType) && f.name != rowId =>
        f.name
    }.toIndexedSeq
    require(numericCols.size >= 2, "mice: needs at least two numeric columns")

    // null counts in one job; targets = numeric cols with some-but-not-all
    // values missing (an all-null column has no observed rows to model —
    // it passes through untouched, like pandas mean-filling an all-NaN col)
    val total = df.count()
    val nullCounts = graft.core.Jobs.collectFast(df
      .agg(
        sum(col(numericCols.head).isNull.cast("long")).as(numericCols.head),
        numericCols.tail.map(c => sum(Cols.q(c).isNull.cast("long")).as(c)): _*))(0)
    val usable = numericCols.filter(c => nullCounts.getAs[Long](c) < total)
    val targets = usable.filter(c => nullCounts.getAs[Long](c) > 0)
    if (targets.isEmpty) return df

    // working frame: doubles + observed flags; start from mean-fill.
    // Observed min/max per target bound the draws below (PMM boundedness):
    // statsmodels MICEData imputes with PMM, i.e. draws observed DONOR
    // values (tasks.py:451), so a reference imputation can never leave the
    // observed support — while an unbounded Gaussian draw can diverge when
    // mutually-missing cells form an expansive linear map (the airquality
    // fixture's row 9 does exactly that). Truncating the draw to the
    // observed range is the distributional skeleton of PMM.
    val statAggs =
      numericCols.map(c => avg(Cols.q(c).cast(DoubleType)).as(s"__avg_$c")) ++
        targets.flatMap(c =>
          Seq(
            min(Cols.q(c).cast(DoubleType)).as(s"__min_$c"),
            max(Cols.q(c).cast(DoubleType)).as(s"__max_$c")))
    val stats = graft.core.Jobs.collectFast(df.agg(statAggs.head, statAggs.tail: _*))(0)
    val means = numericCols.map(c => c -> stats.getAs[Double](s"__avg_$c")).toMap
    val loHi  = targets.map(c => c -> (stats.getAs[Double](s"__min_$c"), stats.getAs[Double](s"__max_$c"))).toMap
    var work = Pin.cut(df.select(
      (Cols.q(rowId) +:
        numericCols.map { c =>
          if (usable.contains(c))
            coalesce(Cols.q(c).cast(DoubleType), lit(means(c))).as(c)
          else Cols.q(c).cast(DoubleType).as(c) // all-null: passes through
        }) ++
        targets.map(c => Cols.q(c).isNotNull.as(s"__obs_$c")): _*))
    var workSaved = false // a snapshot reads the pin `work` stands on

    val totalSweeps = nBurnin + nImputations * nSpread
    val saveAt      = (1 to nImputations).map(i => nBurnin + i * nSpread).toSet
    var snapshots   = List.empty[DataFrame]

    def predictorsFor(target: String): Seq[Column] =
      lit(1.0) +: usable.filterNot(_ == target).map(col(_).cast(DoubleType))

    // deterministic posterior draw keyed by (row, col, sweep, seed),
    // truncated to the target's observed support (PMM boundedness, above)
    def drawCol(target: String, sweep: Int, fit: RunModel.GramFit): Column = {
      val sigma = math.sqrt(math.max(fit.sigma2, 0.0))
      val pred  = predictorsFor(target).zip(fit.beta).map { case (c, b) => c * lit(b) }.reduce(_ + _)
      val u = (pmod(
        hash(Cols.q(rowId), lit(target), lit(sweep), lit(seed)).cast("long"),
        lit(1000000L)).cast(DoubleType) + lit(0.5)) / lit(1000000.0)
      val (lo, hi) = loHi(target)
      least(greatest(pred + lit(sigma) * ProbitFunctions.probitInv(u), lit(lo)), lit(hi))
    }

    for (sweep <- 1 to totalSweeps) {
      if (chained) {
        // Gauss-Seidel (reference order): each target sees this sweep's
        // earlier draws; one Gram job per target
        for (target <- targets) {
          val fit = RunModel.gramFit(
            work.where(col(s"__obs_$target")),
            Cols.q(target).cast(DoubleType),
            predictorsFor(target),
            ridge = 1e-8)
          work = work.withColumn(
            target,
            when(col(s"__obs_$target"), Cols.q(target)).otherwise(drawCol(target, sweep, fit)))
        }
      } else {
        // Jacobi: fit every target from the previous sweep in ONE job,
        // apply every draw in one projection
        val specs = targets.map { t =>
          (t, Cols.q(t).cast(DoubleType), predictorsFor(t), col(s"__obs_$t"))
        }
        val fits = RunModel.gramFitBatch(work, specs, ridge = 1e-8)
        val updated: Map[String, Column] = targets.map { t =>
          t -> when(col(s"__obs_$t"), Cols.q(t)).otherwise(drawCol(t, sweep, fits(t)))
        }.toMap
        work = work.select(work.columns.toIndexedSeq.map { c =>
          updated.get(c).map(_.as(c)).getOrElse(Cols.q(c))
        }: _*)
      }
      // truncate lineage every few sweeps (and always at a save point, so
      // snapshots don't re-execute imputation chains); each un-checkpointed
      // sweep is only a stack of projections, so recompute is cheaper than
      // materializing every round
      if (sweep % CheckpointEvery == 0 || saveAt.contains(sweep)) {
        val next = Pin.cut(work)
        if (!workSaved) Pin.release(work)
        work = next
        workSaved = saveAt.contains(sweep)
      }
      if (saveAt.contains(sweep)) {
        val iterIdx = (sweep - nBurnin) / nSpread - 1
        snapshots ::= work.select(
          lit(iterIdx).as("iter") +: Cols.q(rowId) +:
            numericCols.map(c =>
              if (boolCols(c)) (Cols.q(c) >= 0.5).as(c) else Cols.q(c)): _*)
      }
    }
    snapshots.reverse.reduce(_ unionByName _)
  }
}
