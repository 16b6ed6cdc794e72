package graft.tools

import graft.core.{GraftSession, Pin}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Measures what persisting decoded media features buys — the
  * BENCH_SF1.md evidence for VERDICT r14 item 2. Two modes by corpus
  * size:
  *
  * - Always: the DECODE WALL (what every `mediaNearDupApprox` call used
  *   to pay up front, several times over — the candidate stage evaluates
  *   its input per table side), the one-time `writeFeaturesGen` build,
  *   the `writeMediaIndex` build over the persisted vectors (zero
  *   decodes), and a query-vs-corpus `searchMediaIndexed` batch (decodes
  *   ONLY the query batch).
  * - With `--pairs`: the full all-pairs A/B — `mediaNearDupApprox`
  *   (decode path) vs two `mediaNearDupIndexed` runs. Only meaningful at
  *   sf0.1-class corpora: same-domain text byte-histograms are
  *   near-parallel (the documented q62 caveat), so the tau-thresholded
  *   pair set is ~n²-dense and the all-pairs search itself — under
  *   EITHER path — is quadratic at sf1; exact duplicates route to q62's
  *   digest grouping instead.
  *
  * Usage: MediaFeatureBench <fixtureDir> [tau=0.9] [--pairs]
  */
object MediaFeatureBench {
  def main(args: Array[String]): Unit = {
    val dir      = args(0)
    val tau      = args.lift(1).filterNot(_ == "--pairs").map(_.toDouble).getOrElse(0.9)
    val doPairs  = args.contains("--pairs")
    val spark = GraftSession.local()

    val media = Pin.cut(Multimodal.mediaFromDocuments(spark.read.parquet(s"$dir/documents.parquet")))
    val n = media.count()
    println(s"[media-feats] corpus $dir n=$n tau=$tau pairs=$doPairs")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r  = f
      println(f"[media-feats] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    Multimodal.decodeCount.set(0L)
    time("decode wall (decodeFeatures over the corpus, one pass)") {
      Multimodal.decodeFeatures(media).count()
    }
    val fDir = java.nio.file.Files.createTempDirectory("media_feats_bench").toString
    time("feature build (writeFeaturesGen, decode once + persist)") {
      Multimodal.writeFeaturesGen(media, fDir)
    }
    val iDir = java.nio.file.Files.createTempDirectory("media_lsh_bench").toString
    time("index build over persisted features (writeMediaIndex)") {
      Multimodal.writeMediaIndex(fDir, iDir, spark)
    }
    val decodesAfterBuild = Multimodal.decodeCount.get()
    val queries = Pin.cut(media.limit(100))
    time("query-vs-corpus search, 100-media batch (searchMediaIndexed)") {
      Multimodal.searchMediaIndexed(iDir, queries).count()
    }
    println(s"[media-feats] decodes: corpus passes=${decodesAfterBuild / n} " +
      s"(+${Multimodal.decodeCount.get() - decodesAfterBuild} query decodes for the search)")

    if (doPairs) {
      val pairsDecode = time("all-pairs search, decode path (mediaNearDupApprox)") {
        Multimodal.mediaNearDupApprox(media, tau).count()
      }
      val pairs1 = time("all-pairs search 1 over persisted features (mediaNearDupIndexed)") {
        Multimodal.mediaNearDupIndexed(fDir, spark, tau).count()
      }
      val pairs2 = time("all-pairs search 2 over persisted features (mediaNearDupIndexed)") {
        Multimodal.mediaNearDupIndexed(fDir, spark, tau).count()
      }
      require(pairsDecode == pairs1 && pairs1 == pairs2,
        s"parity violated: $pairsDecode vs $pairs1 vs $pairs2")
      println(s"[media-feats] pairs=$pairsDecode (all paths equal)")
    }
    spark.stop()
  }
}
