package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** A/B for the persisted near-dup index LAYOUT on the q125 ingest shape
  * (the fixture of the signature-hash A/B kept at
  * `git show 376bbd4:src/main/scala/graft/tools/SigHashBench.scala`):
  * bootstrap the flat and the banded index over half the corpus, then
  * time the incremental ingest of the
  * other half (+ planted mutated clones) against each — once as one big
  * batch, once as a stream-sized micro-batch (where partition pruning
  * bites hardest). Asserts both layouts elect identical survivors.
  *
  * Usage: BandedIngestBench [sfDir] [microBatchDocs]
  */
object BandedIngestBench {
  def main(args: Array[String]): Unit = {
    val dir   = args.headOption.getOrElse("/root/repo/benchdata/sf1")
    val micro = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = GraftSession.local()
    import graft.llm.Dedup

    val docs  = graft.core.Tables(spark, dir).documents.where(col("text").isNotNull)
    val old   = docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
    val fresh = docs.where(col("doc_id") % 2 === 1).select("doc_id", "text")
    val clones = old
      .where(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        concat(col("text"), lit(" zq7")).as("text"))
    val batch = fresh.unionByName(clones)
    val microBatch = batch.orderBy("doc_id").limit(micro)

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }

    val flatDir   = java.nio.file.Files.createTempDirectory("bench_flat").toString
    val bandedDir = java.nio.file.Files.createTempDirectory("bench_banded").toString
    val (bFlat, _) = time(
      Dedup.writeNearDupIndex(old, "doc_id", "text", flatDir, nSigs = 16))
    val (bBand, _) = time(
      Dedup.writeBandedNearDupIndex(old, "doc_id", "text", bandedDir))
    println(f"[banded] index build: flat=$bFlat%.2f s banded=$bBand%.2f s")

    def runFlat(b: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.incrementalNearDupNew(b, "doc_id", "text", flatDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def runBanded(b: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.incrementalNearDupNewBanded(b, "doc_id", "text", bandedDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    for ((label, b) <- Seq(("full-batch", batch), (s"micro-$micro", microBatch))) {
      val (wF, sF) = time(runFlat(b))
      val fT = Seq(time(runFlat(b))._1, time(runFlat(b))._1)
      val (wB, sB) = time(runBanded(b))
      val bT = Seq(time(runBanded(b))._1, time(runBanded(b))._1)
      require(sF == sB, s"layouts disagree on $label: ${(sF diff sB) ++ (sB diff sF)}")
      println(f"[banded] $label%s ingest flat warm=$wF%.2f min=${fT.min}%.2f s | " +
        f"banded warm=$wB%.2f min=${bT.min}%.2f s | survivors=${sF.size} (identical)")
    }
    spark.stop()
  }
}
