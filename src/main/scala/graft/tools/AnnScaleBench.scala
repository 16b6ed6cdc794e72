package graft.tools

import graft.core.{GraftSession, Pin}

/** Times the AUTO-sized ANN paths (LSH + IVF) against the same corpus the
  * declared q41/q50 queries read with their fixed small-scale parameters —
  * the evidence row for BENCH_SF1.md that index auto-sizing restores
  * near-linear growth where fixed sizes measured 14×/31× for 10× data.
  *
  * Usage: AnnScaleBench <sfDir> [rounds]
  */
object AnnScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.local()

    val emb = graft.core.Tables(spark, sfDir).embeddings

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        GraftSession.force(mk)
        (System.nanoTime() - t0) / 1e9
      }
      val warm  = once()
      val timed = (1 to rounds).map(_ => once())
      println(
        f"[annscale] $name%s warm=$warm%.3f " +
          timed.map(t => f"$t%.3f").mkString("rounds=[", ", ", "]") +
          f" min=${timed.min}%.3f")
    }

    time("lsh_auto")(graft.llm.AnnBuckets.approxTopK(emb, "vec_id", "embedding", k = 5))
    time("ivf_auto")(graft.llm.IvfIndex.approxTopK(emb, "vec_id", "embedding", k = 5, nProbe = 3))
    time("semdedup_auto")(
      graft.llm.SemDedup.keepFlags(emb, "vec_id", "embedding", tau = 0.4))

    // RECALL of the auto-sized indexes vs the exact top-5 (the quality
    // half of the sf1 evidence: auto-sizing holds occupancy constant,
    // which moves the recall operating point as n grows — so recall must
    // be MEASURED at each scale, not assumed from sf0.001). The exact
    // ground truth runs the guarded kernel (n here is below the
    // 2¹⁶ guard; broadcast path at ≤ 2¹⁸ rows).
    import org.apache.spark.sql.functions.col
    val exact = graft.llm.BruteForce
      .topK(spark, emb, "vec_id", "embedding", k = 5)
      .select("a_id", "b_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df
        .select(col("a_id").cast("long"), col("b_id").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    for (seed <- Seq(42L, 7L, 1234L)) {
      val lsh = recallOf(graft.llm.AnnBuckets
        .approxTopK(emb, "vec_id", "embedding", k = 5, nTables = 4, seed = seed, nProbes = 0))
      val ivf = recallOf(graft.llm.IvfIndex
        .approxTopK(emb, "vec_id", "embedding", k = 5, nProbe = 3, seed = seed.toInt))
      println(f"[annscale] recall seed=$seed lsh_auto=$lsh%.3f ivf_auto=$ivf%.3f")
    }

    // GenScale replicates embedding VECTORS verbatim (only vec_id shifts),
    // so every sf1 vector's exact top-5 are its own identical copies and
    // any bucketing scheme trivially scores recall 1.0 — an artifact of
    // the replication, not evidence. The honest operating point at this n
    // is measured on SYNTHETIC seeded Gaussian vectors (the same
    // random-vector regime as the driver's corpus, where sf0.001/sf0.1
    // recalls were 0.43–0.66): same n, same dims, same auto-sizing.
    locally {
      import org.apache.spark.sql.functions._
      val n = emb.count()
      // pin values: randn is per-evaluation otherwise
      val synth = Pin.cut(spark
        .range(0, n, 1, 32)
        .select(
          col("id").as("vec_id"),
          array((0 until 64).map(i => randn(1000L + i)): _*).as("embedding")))
      val exactS = graft.llm.BruteForce
        .topK(spark, synth, "vec_id", "embedding", k = 5)
        .select("a_id", "b_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      def recallS(df: org.apache.spark.sql.DataFrame): Double = {
        val approx = df
          .select(col("a_id").cast("long"), col("b_id").cast("long"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        (exactS intersect approx).size.toDouble / exactS.size
      }
      for (seed <- Seq(42L, 7L, 1234L)) {
        val lsh = recallS(graft.llm.AnnBuckets
          .approxTopK(synth, "vec_id", "embedding", k = 5, nTables = 4, seed = seed, nProbes = 0))
        val ivf = recallS(graft.llm.IvfIndex
          .approxTopK(synth, "vec_id", "embedding", k = 5, nProbe = 3, seed = seed.toInt))
        println(f"[annscale] recall_synthetic n=$n seed=$seed lsh_auto=$lsh%.3f ivf_auto=$ivf%.3f")
      }
      // the recall-restoring knobs at the same n: tables for LSH, probes
      // for IVF — each trades linear candidate volume for recall
      def timeRecall(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
        val t0  = System.nanoTime()
        val r   = recallS(mk)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[annscale] knob $name%s recall=$r%.3f sec=$sec%.3f")
      }
      timeRecall("lsh_tables8")(graft.llm.AnnBuckets
        .approxTopK(synth, "vec_id", "embedding", k = 5, nTables = 8, seed = 42L, nProbes = 0))
      timeRecall("lsh_tables16")(graft.llm.AnnBuckets
        .approxTopK(synth, "vec_id", "embedding", k = 5, nTables = 16, seed = 42L, nProbes = 0))
      timeRecall("ivf_probe8")(graft.llm.IvfIndex
        .approxTopK(synth, "vec_id", "embedding", k = 5, nProbe = 8, seed = 42))
      timeRecall("ivf_probe16")(graft.llm.IvfIndex
        .approxTopK(synth, "vec_id", "embedding", k = 5, nProbe = 16, seed = 42))
      timeRecall("ivf_probe32")(graft.llm.IvfIndex
        .approxTopK(synth, "vec_id", "embedding", k = 5, nProbe = 32, seed = 42))
    }
    spark.stop()
  }
}
