package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generates a CLUSTERED embedding fixture — a mixture of `nClusters`
  * isotropic Gaussians — for recall benchmarking at bench scale.
  *
  * The driver's synthetic embeddings are i.i.d. random vectors, where
  * nearest-neighbour structure is pure noise: at sf10 the exact top-k of
  * a random vector is a set of arbitrary near-orthogonal vectors, so ANN
  * recall measures only the noise floor (BENCH_SF1.md "recall floor,
  * quantified": 0.021–0.063). Real corpora are clustered; this fixture
  * plants that structure so recall@k means what it means in production.
  *
  * Geometry: cluster centers ~ N(0, I_dims) (driver-seeded, tiny), a
  * point = center + sigma·noise. Expected within-cluster cosine ≈
  * 1/(1+sigma²) (≈ 0.86 at sigma 0.4) vs ≈ 0 across clusters, so the
  * exact top-k of nearly every point is its cluster-mates — recoverable
  * structure, not an oracle giveaway (clusters overlap in any fixed
  * bucketing). The `cluster` column rides along as a LABEL for the
  * hard-negative / triplet miners (q120/q130 need one); recall ground
  * truth is still computed exactly, never read off the label.
  *
  * Usage: GenClusteredEmb <outDir> <n> [nClusters=1000] [dims=64]
  *        [sigma=0.4] [seed=2026]
  */
object GenClusteredEmb {

  /** The fixture frame itself — seed-deterministic (driver-seeded centers
    * + Spark's seeded `randn` noise), so a ScalaTest gate can regenerate
    * the exact geometry in-memory without a committed parquet blob
    * (ClusteredRecallSpec does; the Auto-path recall floors run on this).
    */
  def clustered(
      spark: SparkSession,
      n: Long,
      nClusters: Int = 1000,
      dims: Int = 64,
      sigma: Double = 0.4,
      seed: Long = 2026L): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // centers are O(nClusters × dims) driver state — 64k doubles at the
    // defaults — broadcast-joined onto the points
    val rnd = new scala.util.Random(seed)
    val centers = (0 until nClusters)
      .map(c => (c.toLong, Seq.fill(dims)(rnd.nextGaussian())))
      .toDF("cluster", "center")
    spark
      .range(0, n, 1, 32)
      .select(
        col("id").as("vec_id"),
        pmod(col("id"), lit(nClusters.toLong)).as("cluster"),
        array((0 until dims).map(i => randn(seed * 7919L + i) * lit(sigma)): _*).as("noise"))
      .join(broadcast(centers), Seq("cluster"))
      .select(
        col("vec_id"),
        col("cluster"),
        zip_with(col("center"), col("noise"), (c, e) => c + e).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val outDir    = args(0)
    val n         = args(1).toLong
    val nClusters = args.lift(2).map(_.toInt).getOrElse(1000)
    val dims      = args.lift(3).map(_.toInt).getOrElse(64)
    val sigma     = args.lift(4).map(_.toDouble).getOrElse(0.4)
    val seed      = args.lift(5).map(_.toLong).getOrElse(2026L)
    val spark = GraftSession.local()

    clustered(spark, n, nClusters, dims, sigma, seed)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[genclustered] wrote $n vectors / $nClusters clusters / dims=$dims " +
      s"sigma=$sigma -> $outDir/embeddings.parquet")
    spark.stop()
  }
}
