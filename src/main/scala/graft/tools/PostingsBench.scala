package graft.tools

import graft.core.{GraftSession, Pin}
import graft.llm.Bm25
import org.apache.spark.sql.functions._

/** Measures what persisting the inverted postings buys — the BENCH_SF1.md
  * evidence for the r15 lexical index: the in-memory multi-query path
  * re-explodes the corpus per call (twice — df side + contribution
  * side); `writePostings` pays the explode once, and every later search
  * is a pruned-bucket scan + broadcast join.
  *
  * Usage: PostingsBench <fixtureDir>
  */
object PostingsBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.local()

    val docs = Pin.cut(spark.read.parquet(s"$dir/documents.parquet"))
    val queries = Pin.cut(docs.where(col("doc_id") % 25 === 0 && col("doc_id") < 5000).select(
      col("doc_id").as("q_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 4)).as("q_text")))
    println(s"[postings] corpus $dir docs=${docs.count()} queries=${queries.count()}")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r  = f
      println(f"[postings] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val inMem = time("in-memory search (topKPerQuery, re-explodes per call)") {
      Bm25.topKPerQuery(docs, "doc_id", "text", queries, "q_id", "q_text", k = 10).count()
    }
    val pDir = java.nio.file.Files.createTempDirectory("postings_bench").toString
    time("index build (writePostings, explode once + persist)") {
      Bm25.writePostings(docs, "doc_id", "text", pDir)
    }
    val s1 = time("indexed search 1 (topKPerQueryIndexed)") {
      Bm25.topKPerQueryIndexed(pDir, queries, "q_id", "q_text", k = 10).count()
    }
    val s2 = time("indexed search 2 (topKPerQueryIndexed)") {
      Bm25.topKPerQueryIndexed(pDir, queries, "q_id", "q_text", k = 10).count()
    }
    require(inMem == s1 && s1 == s2, s"parity violated: $inMem vs $s1 vs $s2")
    println(s"[postings] rows=$inMem (all paths equal)")
    spark.stop()
  }
}
