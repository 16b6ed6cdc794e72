package graft.tools

import graft.core.{GraftSession, Pin}
import graft.llm.IvfPq
import org.apache.spark.sql.functions._

/** Measures the drift→retrain→rebuild loop cost — the BENCH_SF1.md
  * evidence row for VERDICT r13 item 3: bootstrap a generational IVFADC
  * index, append a SHIFTED generation (planted drift), confirm the q136
  * trigger fires, then time [[IvfPq.retrainAndRebuild]] over the full
  * corpus and report the reconstruction-error recovery. The rebuild is
  * the RARE whole-corpus operation whose cost justifies the per-batch
  * frozen-quantizer appends; this prints what "rare" costs.
  *
  * Usage: RetrainProbe <fixtureDir> [nCells=64]
  */
object RetrainProbe {
  def main(args: Array[String]): Unit = {
    val dir    = args(0)
    val nCells = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = GraftSession.local()

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val n = emb.count()
    println(s"[retrain] corpus $dir n=$n nCells=$nCells")

    val ixDir = java.nio.file.Files.createTempDirectory("retrain_probe").toString
    val t0    = System.nanoTime()
    val (idx0, enc0) = IvfPq.build(emb, "vec_id", "embedding", dims = 64, nCells = nCells)
    IvfPq.writeIndexGen(idx0, enc0, ixDir, srcBatch = 0L)
    val tBoot = (System.nanoTime() - t0) / 1e9

    // planted drift generation: shifted copies under fresh ids
    val drifted = Pin.cut(emb.select(
      (col("vec_id") + 10000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.75)).as("embedding")))
    val t1 = System.nanoTime()
    IvfPq.appendToIndex(ixDir, drifted, "vec_id", "embedding", srcBatch = 1L)
    val tAppend = (System.nanoTime() - t1) / 1e9

    def meanErr(df: org.apache.spark.sql.DataFrame, idx: IvfPq.IvfPqIndex): Double =
      IvfPq.encodeForIndexWithError(df, "vec_id", "embedding", idx)
        .agg(avg(col("err"))).collect()(0).getDouble(0)
    val errBase    = meanErr(emb, idx0)
    val errDrifted = meanErr(drifted, idx0)
    println(f"[retrain] frozen-geometry mean err: base=$errBase%.4f drifted=$errDrifted%.4f " +
      f"(ratio ${errDrifted / errBase}%.2fx) trigger fires at tau=1.25: " +
      s"${errDrifted > 1.25 * errBase}")

    val corpus = emb.unionByName(drifted)
    val t2     = System.nanoTime()
    val newIdx = IvfPq.retrainAndRebuild(ixDir, corpus, "vec_id", "embedding", dims = 64,
      nCells = nCells, trainOn = drifted)
    val tRebuild = (System.nanoTime() - t2) / 1e9
    val errAfter = meanErr(drifted, newIdx)
    println(f"[retrain] bootstrap=$tBoot%.1fs append=$tAppend%.1fs rebuild(2n)=$tRebuild%.1fs " +
      f"err drifted after rebuild=$errAfter%.4f (recovered ${errDrifted / errAfter}%.2fx)")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ixDir))
    spark.stop()
  }
}
