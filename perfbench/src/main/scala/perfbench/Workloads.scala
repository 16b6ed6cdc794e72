package perfbench

import graft.SparkEntry
import graft.clean.CleanData
import graft.core.{GraftFrame, Tables}
import graft.encode.EncodeData
import graft.llm._
import graft.model.{RegressionResult, RunModel}
import graft.na.{Mice, WrangleNa}
import graft.transform.{GelmanStandardize, TransformData}
import graft.viz.ConfIntChart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One workload: the calls of one iteration, in a fixed order. */
trait Workload {
  def iteration(c: Ctx): Unit
}

object Workloads {
  def apply(name: String, opts: Map[String, String]): Workload = {
    val data = opts("data")
    val seed = opts("seed").toLong
    name match {
      case "tabular_flow"        => new TabularFlow(data, seed)
      case "corpus_dedup_search" => new CorpusDedupSearch(data, seed, opts("docs").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** `n` distinct document ids drawn from `[0, docs)` by `seed`. */
  def draw(seed: Long, docs: Int, n: Int): Seq[Long] =
    new scala.util.Random(seed).shuffle((0 until docs).toVector).take(n).map(_.toLong).sorted

  /** Self-queries: the first four tokens of each drawn document. */
  def queries(docs: DataFrame, ids: Seq[Long]): DataFrame =
    docs
      .where(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("q_id"), concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("q_text"))

  /** A declared query's DuckDB SQL with its fixed query set replaced by `ids`. */
  def withQueryIds(declared: String, ids: Seq[Long]): String = {
    val fixed = "doc_id % 25 = 0 AND doc_id < 5000"
    val sql   = SparkEntry.oracleSql(declared)
    require(sql.contains(fixed), s"$declared oracle no longer selects its queries by '$fixed'")
    sql.replace(fixed, ids.mkString("doc_id IN (", ", ", ")"))
  }
}

/** The paper's reference flow on lineitem, then Mice and the rel/stream
  * queries the baseline names.
  */
final class TabularFlow(data: String, seed: Long) extends Workload {
  private val naModulus   = 19
  private val miceModulus = 17
  private val naSalt    = math.floorMod(seed, naModulus.toLong)
  private val Queries = Seq(
    "q01_pricing_summary"      -> "rel",
    "q02_mktsegment_revenue"   -> "rel",
    "q03_top2_orders_per_cust" -> "rel",
    "q11_events_tumbling_1h"   -> "stream",
    "q14_events_asof_order"    -> "stream",
    "q28_percentiles"          -> "rel")
  private lazy val registry = SparkEntry.queries

  def iteration(c: Ctx): Unit = {
    val spark = c.spark
    val li    = Tables(spark, data).lineitem
    val input = li.select(
      col("l_extendedprice"),
      when(pmod(col("l_orderkey") + naSalt, lit(naModulus)) === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity")).as("l_quantity"),
      col("l_discount"), col("l_tax"), col("l_returnflag"))

    c.sample("prep") {
      val cleaned = c.call("clean", "CleanData.factorWrangler")(
        CleanData.factorWrangler(GraftFrame(input), strToCat = true, dummyToBool = false))
      val encoded     = c.call("encode", "EncodeData")(EncodeData(cleaned))
      val imputed     = c.call("na", "WrangleNa.fi")(WrangleNa.fi(encoded))
      val transformed = c.call("transform", "TransformData")(
        TransformData(imputed, Seq("l_quantity", "l_extendedprice"), "arcsinh"))
      val standard = c.call("transform", "GelmanStandardize")(GelmanStandardize(transformed))
      val model = c.call("model", "RunModel")(
        RunModel(standard.df, "l_extendedprice", Seq("l_quantity", "l_discount", "l_tax")))
      val spec = c.call("viz", "ConfIntChart.vegaLiteSpec")(ConfIntChart.vegaLiteSpec(model))
      c.expect("pipeline.model", model.coef.map(_.toFloat).mkString(",") + "|" + model.n)
      c.expect("pipeline.spec", Digest.text(spec))
      if (c.reference) c.excluded(c.dumpJson("pipeline_ols", modelJson(model),
        Oracle("ols", params = Map("na_salt" -> naSalt.toString, "na_modulus" -> naModulus.toString))))
    }

    c.sample("mice") {
      val mice = li.where(col("l_orderkey") % 5 === 0).select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("row_id"),
        when(pmod(col("l_orderkey") + naSalt, lit(miceModulus)) === 0, lit(null).cast("double"))
          .otherwise(col("l_quantity")).as("quantity"),
        col("l_discount").as("discount"),
        col("l_extendedprice").as("price"),
        col("l_tax").as("tax"))
      val imputed = c.call("na", "Mice")(
        Mice(GraftFrame(mice), "row_id", nBurnin = 1, nImputations = 2, nSpread = 1, seed = seed))
      c.sink("mice", imputed, Some(Oracle("mice", params = Map(
        "imputations" -> "2", "na_salt" -> naSalt.toString, "na_modulus" -> miceModulus.toString))))
    }

    Queries.foreach { case (q, layer) =>
      c.sample("query") {
        val df = c.call(layer, q)(registry(q)(spark, data))
        c.sink(q, df, Some(Oracle("sql", SparkEntry.oracleSql(q))))
      }
    }
  }

  private def modelJson(m: RegressionResult): String =
    s"""{"regressors": ${m.regressors.map(r => "\"" + r + "\"").mkString("[", ",", "]")}, """ +
      s""""coef": ${m.coef.mkString("[", ",", "]")}, "n": ${m.n}}"""
}

/** Dedup, clustering and search over the document and embedding corpora. */
final class CorpusDedupSearch(data: String, seed: Long, nDocs: Int) extends Workload {
  private val queryIds = Workloads.draw(seed, nDocs, 20)

  def iteration(c: Ctx): Unit = {
    val spark = c.spark
    val t     = Tables(spark, data)
    val docs  = t.documents
    val emb   = t.embeddings

    c.sample("prep") {
      val r = c.call("llm.Dedup", "Dedup.exact")(Dedup.exact(docs, "doc_id", "text"))
      c.sink("dedup_exact", r, Some(Oracle("sql",
        """SELECT doc_id, text, lang, source, n_chars FROM (
          |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1""".stripMargin)))
    }
    c.sample("prep") {
      val r = c.call("llm.Dedup", "Dedup.nearDupPairs")(
        Dedup.nearDupPairs(docs, "doc_id", "text", bands = 4, rowsPerBand = 2, tau = 0.5,
          maxBandDf = Some(64L)))
      c.sink("near_dup_pairs", r, Some(Oracle("jaccard_pairs", params = Map("tau" -> "0.5"))))
    }
    c.sample("prep") {
      val r = c.call("llm.DupClusters", "DupClusters.clusterDocuments")(
        DupClusters.clusterDocuments(docs, "doc_id", "text", maxShingleDf = Some(64L)))
      c.sink("dup_clusters", r.select(col("doc_id").cast("long"), col("cluster_id").cast("long")),
        Some(Oracle("sql", SparkEntry.oracleSql("q69_dup_clusters"))))
    }

    val queries = Workloads.queries(docs, queryIds)
    val results = c.sample("query") {
      val r = c.call("llm.Bm25", "Bm25.topKPerQuery")(
        Bm25.topKPerQuery(docs, "doc_id", "text", queries, "q_id", "q_text", k = 10))
      c.sink("bm25_topk", r, Some(Oracle("sql", Workloads.withQueryIds("q141_bm25_multiquery", queryIds))))
      r
    }
    c.sample("query") {
      val gold   = queries.select(col("q_id"), col("q_id").as("gold_id"))
      val report = c.call("llm.RetrievalEval", "RetrievalEval.report")(
        RetrievalEval.report(results, gold, Seq(1, 5, 10)))
      c.sink("retrieval_eval", report,
        Some(Oracle("sql", Workloads.withQueryIds("q142_retrieval_eval", queryIds))))
    }
    c.sample("query") {
      val r = c.call("llm.BruteForce", "BruteForce.topK")(
        BruteForce.topK(spark, emb, "vec_id", "embedding", k = 5))
      c.sink("cosine_topk", r, Some(Oracle("sql", SparkEntry.oracleSql("q19_similarity_topk"))))
    }
    c.sample("query") {
      val r = c.call("llm.AnnBuckets", "AnnBuckets.approxTopK")(
        AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5, nBits = 4, nTables = 2, nProbes = 0))
      c.sink("ann_topk", r, Some(Oracle("cosine_pairs")))
    }
  }
}
