package graft.tools

import graft.core.{GraftSession, Pin}

/** Times n-gram Jaccard pair generation CAPPED (the library default,
  * maxShingleDf=1024) vs UNCAPPED (the q34 oracle mode) on the same
  * documents table — the BENCH_SF1.md evidence that the production
  * default bounds the Σ df² pair explosion that replication inflates.
  *
  * Usage: NgramCapBench <sfDir> [rounds]
  */
object NgramCapBench {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local()

    val docs = graft.core.Tables(spark, sfDir).documents

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        GraftSession.force(mk)
        (System.nanoTime() - t0) / 1e9
      }
      val warm  = once()
      val timed = (1 to rounds).map(_ => once())
      println(
        f"[ngramcap] $name%s warm=$warm%.3f " +
          timed.map(t => f"$t%.3f").mkString("rounds=[", ", ", "]") +
          f" min=${timed.min}%.3f")
    }

    if (sys.env.contains("NGRAM_EXPLAIN")) {
      graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text").explain("formatted")
    } else {
      time("capped_default")(graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
      time("prefix_tau08")(
        graft.llm.Dedup
          .ngramJaccardPairs(docs, "doc_id", "text", minJaccard = Some(0.8)))
      time("uncapped_oracle")(
        graft.llm.Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxShingleDf = None))
      // q69's PRODUCTION path: capped edge generation + hash-min label
      // propagation (the declared q69 runs uncapped for oracle parity)
      time("clusters_capped") {
        graft.llm.DupClusters.clusterDocuments(docs, "doc_id", "text")
      }
      locally {
        import org.apache.spark.sql.functions.col
        // edges materialized once OUTSIDE the timed block → cc_only times
        // the propagation fixpoint alone
        val edgesCp = Pin.cut(graft.llm.Dedup
          .ngramJaccardPairs(docs, "doc_id", "text", minJaccard = Some(0.8))
          .select("a_id", "b_id"))
        println(s"[ngramcap] n_edges=${edgesCp.count()}")
        time("cc_only") {
          graft.llm.DupClusters
            .connectedComponents(docs.select(col("doc_id").as("id")), edgesCp)
        }
      }
    }
    spark.stop()
  }
}
