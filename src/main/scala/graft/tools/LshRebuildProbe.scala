package graft.tools

import graft.core.{GraftSession, Pin}
import graft.llm.AnnBuckets
import org.apache.spark.sql.functions._

/** Measures the LSH occupancy→rebuild loop cost — the BENCH_SF1.md
  * evidence row for VERDICT r14 item 1: bootstrap a generational LSH
  * index from a SMALL head of the corpus (simulating a deployment sized
  * long ago), append the rest as generations (planted growth), confirm
  * [[AnnBuckets.rebuildDue]] fires over the occupancy report, then time
  * [[AnnBuckets.rebuildBucketsGen]] — which re-buckets from the
  * embeddings the index already stores, no corpus re-read — and report
  * the occupancy recovery. The rebuild is the RARE whole-index operation
  * whose cost justifies the per-batch frozen-plane appends; this prints
  * what "rare" costs at each fixture scale.
  *
  * Usage: LshRebuildProbe <fixtureDir> [bootFrac=0.125] [batches=4]
  */
object LshRebuildProbe {
  def main(args: Array[String]): Unit = {
    val dir      = args(0)
    val bootFrac = args.lift(1).map(_.toDouble).getOrElse(0.125)
    val batches  = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local()

    val emb = Pin.cut(spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding")))
    val n       = emb.count()
    val bootCut = (n * bootFrac).toLong
    println(s"[lsh-rebuild] corpus $dir n=$n bootstrap=$bootCut batches=$batches")

    val ixDir = java.nio.file.Files.createTempDirectory("lsh_rebuild_probe").toString
    val t0    = System.nanoTime()
    AnnBuckets.writeBucketsGen(
      emb.where(col("vec_id") < bootCut), "vec_id", "embedding", ixDir)
    val tBoot = (System.nanoTime() - t0) / 1e9
    val m0    = AnnBuckets.readBucketsMeta(ixDir, spark)
    println(f"[lsh-rebuild] bootstrap: ${tBoot}%.1f s  bits=${m0.nBits} tables=${m0.nTables}")

    val rest = n - bootCut
    val t1   = System.nanoTime()
    for (b <- 0 until batches) {
      val lo = bootCut + b * rest / batches
      val hi = bootCut + (b + 1) * rest / batches
      AnnBuckets.appendToBuckets(
        ixDir, emb.where(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding", srcBatch = b + 1L)
    }
    val tAppend = (System.nanoTime() - t1) / 1e9
    val occ0    = AnnBuckets.bucketOccupancy(ixDir, spark).collect()(0)
    val due     = AnnBuckets.rebuildDue(AnnBuckets.bucketOccupancy(ixDir, spark))
    println(f"[lsh-rebuild] appended $rest rows in ${tAppend}%.1f s; " +
      f"mean_occ=${occ0.getAs[Double]("mean_occ")}%.1f max_occ=${occ0.getAs[Long]("max_occ")} " +
      s"rebuildDue(slack=2)=$due")

    val t2 = System.nanoTime()
    val m1 = AnnBuckets.rebuildBucketsGen(ixDir, spark)
    val tRebuild = (System.nanoTime() - t2) / 1e9
    val occ1 = AnnBuckets.bucketOccupancy(ixDir, spark).collect()(0)
    println(f"[lsh-rebuild] rebuild: ${tRebuild}%.1f s  " +
      f"bits ${m0.nBits}->${m1.nBits} tables ${m0.nTables}->${m1.nTables} " +
      f"mean_occ ${occ0.getAs[Double]("mean_occ")}%.1f->${occ1.getAs[Double]("mean_occ")}%.1f " +
      s"dueAfter=${AnnBuckets.rebuildDue(AnnBuckets.bucketOccupancy(ixDir, spark))}")
    spark.stop()
  }
}
