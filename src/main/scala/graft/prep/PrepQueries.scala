package graft.prep

import graft.core.{CategoryInfo, GraftFrame, Tables}
import graft.encode.EncodeData
import graft.model.RunModel
import graft.na.WrangleNa
import graft.queries.Declared
import graft.transform.{GelmanStandardize, TransformData}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Part A preprocessing operators exercised as oracle-checked queries over
  * the driver testdata: each query routes through the actual library op
  * (WrangleNa / GelmanStandardize / TransformData / EncodeData / RunModel)
  * and aggregates to a small deterministic result the DuckDB oracle can
  * reproduce in ANSI SQL (SURVEY.md §5). NA injection is deterministic
  * (`l_orderkey % 19`) so both engines see identical missingness.
  */
object PrepQueries {

  private def t(spark: SparkSession, dir: String) = Tables(spark, dir)

  /** `wrangle_na("fi")` mean-imputation (reference tasks.py:398–421). */
  val q21ImputeMean: Declared = Declared.sql(
    "q21_impute_mean",
    """WITH tt AS (SELECT l_returnflag,
      |                   CASE WHEN l_orderkey % 19 = 0 THEN NULL ELSE l_quantity END AS q
      |            FROM lineitem)
      |SELECT l_returnflag,
      |       round(sum(coalesce(q, (SELECT avg(q) FROM tt))), 2) AS sum_q_imputed,
      |       count(*) AS n
      |FROM tt GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    val withNa = t(spark, dir).lineitem.select(
      col("l_returnflag"),
      when(col("l_orderkey") % 19 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity"))
        .as("q"))
    WrangleNa
      .fi(GraftFrame(withNa))
      .df
      .groupBy("l_returnflag")
      .agg(round(sum("q"), 2).as("sum_q_imputed"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Deterministic mode with the count-desc/value-asc tie-break the `fi`
    * strategy uses for categorical columns (reference tasks.py:414–421,
    * pandas `mode().loc[0]`).
    */
  val q22ModeQuantity: Declared = Declared.sql(
    "q22_mode_quantity",
    """SELECT l_returnflag, l_quantity AS mode_qty FROM (
      |  SELECT l_returnflag, l_quantity,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY count(*) DESC, l_quantity ASC) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity) x
      |WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag").orderBy(col("n").desc, col("l_quantity").asc)
    t(spark, dir).lineitem
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
      .orderBy("l_returnflag")
  }

  /** `gelman_standardize_data` (reference tasks.py:524–556): (x−mean)/(2·sd),
    * sample sd — checked via per-group sums of the standardized values.
    */
  val q23GelmanStandardize: Declared = Declared.sql(
    "q23_gelman_standardize",
    """WITH z AS (SELECT l_returnflag,
      |  (l_quantity - avg(l_quantity) OVER ()) / (2 * stddev_samp(l_quantity) OVER ()) AS zq,
      |  (l_discount - avg(l_discount) OVER ()) / (2 * stddev_samp(l_discount) OVER ()) AS zd
      |  FROM lineitem)
      |SELECT l_returnflag, round(sum(zq), 4) AS sum_zq, round(sum(zd), 4) AS sum_zd,
      |       count(*) AS n
      |FROM z GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    val gf = GraftFrame(
      t(spark, dir).lineitem.select(
        col("l_returnflag"),
        col("l_quantity").as("zq"),
        col("l_discount").as("zd")))
    GelmanStandardize(gf).df
      .groupBy("l_returnflag")
      .agg(round(sum("zq"), 4).as("sum_zq"), round(sum("zd"), 4).as("sum_zd"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** `transform_data` log + arcsinh (reference tasks.py:476–521), checked
    * via per-group sums of the transformed columns.
    */
  val q24TransformAsinhLog: Declared = Declared.sql(
    "q24_transform_asinh_log",
    """SELECT l_returnflag,
      |  round(sum(ln(l_extendedprice + sqrt(l_extendedprice * l_extendedprice + 1))), 4) AS sum_asinh_price,
      |  round(sum(ln(l_quantity)), 4) AS sum_log_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (spark, dir) =>
    val gf = GraftFrame(
      t(spark, dir).lineitem.select(
        col("l_returnflag"),
        col("l_extendedprice").as("sum_asinh_price"),
        col("l_quantity").as("sum_log_qty")))
    val transformed = TransformData(
      TransformData(gf, Seq("sum_asinh_price"), "arcsinh"),
      Seq("sum_log_qty"),
      "log")
    transformed.df
      .groupBy("l_returnflag")
      .agg(
        round(sum("sum_asinh_price"), 4).as("sum_asinh_price"),
        round(sum("sum_log_qty"), 4).as("sum_log_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** `encode_data` one-hot on an unordered categorical (reference
    * tasks.py:295–306): per-value boolean dummies in category order.
    */
  val q25EncodeOnehot: Declared = Declared.sql(
    "q25_encode_onehot",
    """SELECT c_custkey, c_acctbal,
      |  c_mktsegment = 'AUTOMOBILE' AS c_mktsegment_AUTOMOBILE,
      |  c_mktsegment = 'BUILDING' AS c_mktsegment_BUILDING,
      |  c_mktsegment = 'FURNITURE' AS c_mktsegment_FURNITURE,
      |  c_mktsegment = 'HOUSEHOLD' AS c_mktsegment_HOUSEHOLD,
      |  c_mktsegment = 'MACHINERY' AS c_mktsegment_MACHINERY
      |FROM customer
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val gf = GraftFrame(
      t(spark, dir).customer.select("c_custkey", "c_acctbal", "c_mktsegment"),
      Map("c_mktsegment" -> CategoryInfo(segs, ordered = false)))
    EncodeData(gf).df.orderBy("c_custkey")
  }

  /** `run_model` no-intercept OLS (reference tasks.py:561–580) in its
    * single-regressor closed form: coef = Σxy/Σx², classical std error and
    * t-stat — the same Gram-matrix math RunModel uses for any k.
    */
  val q26OlsSlope: Declared = Declared.sql(
    "q26_ols_slope",
    """WITH s AS (SELECT sum(l_quantity * l_extendedprice) AS xy,
      |                  sum(l_quantity * l_quantity) AS xx,
      |                  sum(l_extendedprice * l_extendedprice) AS yy,
      |                  count(*) AS n
      |           FROM lineitem)
      |SELECT 'l_quantity' AS regressor,
      |       round(xy / xx, 6) AS coef,
      |       round(sqrt(((yy - (xy / xx) * xy) / (n - 1)) / xx), 6) AS stderr,
      |       round((xy / xx) / sqrt(((yy - (xy / xx) * xy) / (n - 1)) / xx), 4) AS tstat
      |FROM s""".stripMargin) { (spark, dir) =>
    val res = RunModel(
      t(spark, dir).lineitem.select("l_quantity", "l_extendedprice"),
      endog = "l_extendedprice",
      exog = Seq("l_quantity"))
    res
      .summaryDf(spark)
      .select(
        col("regressor"),
        round(col("coef"), 6).as("coef"),
        round(col("stderr"), 6).as("stderr"),
        round(col("tstat"), 4).as("tstat"))
  }

  /** `wrangle_na("mice")` (reference tasks.py:443–472): chained-equations
    * multiple imputation, stacked datasets with an `iter` column. Rows-only
    * (stochastic-model semantics have no SQL oracle; invariants are
    * asserted in MiceSpec) — shortened sweep schedule for the per-round
    * gate, full reference schedule available via parameters.
    */
  val q39Mice: Declared = Declared.rowsOnly("q39_mice") { (spark, dir) =>
    // deterministic 20% sample: the sweep count, not the row count, is the
    // interesting cost
    val li = t(spark, dir).lineitem.where(col("l_orderkey") % 5 === 0).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("row_id"),
      when(col("l_orderkey") % 17 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")).as("quantity"),
      when(col("l_orderkey") % 23 === 0, lit(null).cast("double"))
        .otherwise(col("l_discount")).as("discount"),
      col("l_extendedprice").as("price"),
      col("l_tax").as("tax"))
    graft.na.Mice(graft.core.GraftFrame(li), "row_id", nBurnin = 2, nImputations = 3, nSpread = 1)
      .groupBy("iter")
      .agg(
        count(lit(1)).as("n"),
        round(avg("quantity"), 4).as("avg_q_imputed"),
        round(avg("discount"), 4).as("avg_d_imputed"))
      .orderBy("iter")
  }

  val all: Seq[Declared] = Seq(
    q21ImputeMean,
    q22ModeQuantity,
    q23GelmanStandardize,
    q24TransformAsinhLog,
    q25EncodeOnehot,
    q26OlsSlope,
    q39Mice)
}
