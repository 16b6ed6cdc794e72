package graft.tools

import graft.core.GraftSession

/** A/B for the ANN hard-negative miner at a scale dir: the declared
  * q120 pins nBits=4 for oracle reproducibility (the q41/q67 clause);
  * production defaults to `AnnBuckets.Auto` occupancy sizing. This
  * prints both wall times so BENCH_SF1.md can record the growth split.
  */
object MinerProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/benchdata/sf1")
    val spark = GraftSession.local()
    val emb = graft.core.Tables(spark, dir).embeddings
    // variants: "pinned" (declared q120's nBits=4 — QUADRATIC per bucket,
    // only sane at <= sf1), "auto" (production), "recall" — default all
    // three for sf1-and-below parity with the round-10 numbers
    val variants = if (args.length > 1) args(1).split(",").toSet else Set("pinned", "auto", "recall")
    val nTables  = if (args.length > 2) args(2).toInt else 2

    def run(nBits: Int, label: String): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        GraftSession.force(graft.llm.EmbeddingStats
            .hardNegativesApprox(emb, "vec_id", "label", "embedding",
              tau = 0.3, k = 3, nBits = nBits, nTables = nTables, nProbes = 0))
        (System.nanoTime() - t0) / 1e9
      }
      val warm  = once()
      val timed = Seq(once(), once())
      println(f"$label%s warm=$warm%.3f min=${timed.min}%.3f")
    }
    if (variants("pinned")) run(4, "miner nBits=4 (declared q120)")
    if (variants("auto")) run(graft.llm.AnnBuckets.Auto, "miner nBits=Auto (production)")

    // the triplet builder shares the candidate stage with the miner; this
    // times the production (Auto-bits) path and, at <= sf1, the exact
    // q129 kernel for the growth split
    if (variants("triplets")) {
      def onceT(): Double = {
        val t0 = System.nanoTime()
        GraftSession.force(graft.llm.EmbeddingStats
            .trainingTripletsApprox(emb, "vec_id", "label", "embedding", tau = 0.3,
              nBits = graft.llm.AnnBuckets.Auto, nTables = nTables, nProbes = 0))
        (System.nanoTime() - t0) / 1e9
      }
      val warmA  = onceT()
      val timedA = Seq(onceT(), onceT())
      println(f"triplets nBits=Auto nTables=$nTables (production) warm=$warmA%.3f min=${timedA.min}%.3f")
    }
    if (variants("tripletsExact")) {
      def onceE(): Double = {
        val t0 = System.nanoTime()
        GraftSession.force(graft.llm.EmbeddingStats
            .trainingTriplets(emb, "vec_id", "label", "embedding", tau = 0.3))
        (System.nanoTime() - t0) / 1e9
      }
      val warmE  = onceE()
      val timedE = Seq(onceE(), onceE())
      println(f"triplets exact (q129 kernel) warm=$warmE%.3f min=${timedE.min}%.3f")
    }

    // recall of the production miner vs the exact election, on a sampled
    // anchor set (the full exact miner is O(n^2) — unreachable at sf10,
    // which is the point of the approx path; 48 anchors × corpus is one
    // broadcast-join pass)
    if (variants("recall")) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import graft.functions.GraftFunctions.dot
      val nSample = 48
      val anchors = emb
        .select(col("vec_id").as("a_id"), col("label").as("a_lbl"),
          col("embedding").cast("array<double>").as("a_emb"))
        .orderBy("a_id")
        .limit(nSample)
      val e = emb.select(
        col("vec_id"),
        col("label"),
        col("embedding").cast("array<double>").as("emb"))
      val w = Window.partitionBy("a_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
      val exact = e
        .crossJoin(broadcast(anchors))
        .where(col("a_id") =!= col("vec_id") && col("a_lbl") =!= col("label"))
        .withColumn(
          "cos_sim",
          round(
            dot(col("a_emb"), col("emb")) /
              (sqrt(dot(col("a_emb"), col("a_emb"))) * sqrt(dot(col("emb"), col("emb")))),
            6))
        .where(col("cos_sim") >= 0.3)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("a_id"), col("vec_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val sampleIds = anchors.select("a_id").collect().map(_.getLong(0)).toSet
      val approx = graft.llm.EmbeddingStats
        .hardNegativesApprox(emb, "vec_id", "label", "embedding",
          tau = 0.3, k = 3, nBits = graft.llm.AnnBuckets.Auto, nTables = nTables, nProbes = 0)
        .where(col("anchor").isin(sampleIds.toSeq: _*))
        .select("anchor", "neighbor")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val recall = if (exact.isEmpty) Double.NaN else (approx intersect exact).size.toDouble / exact.size
      println(f"miner nBits=Auto nTables=$nTables recall@3 vs exact on $nSample sampled anchors: " +
        f"$recall%.3f (exact pairs: ${exact.size})")
    }
    spark.stop()
  }
}
