package graft.tools

import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall of the production (Auto-sized) ANN paths on the CLUSTERED
  * embedding fixture ([[GenClusteredEmb]]) — the quality evidence the
  * i.i.d. driver corpus cannot give (its sf10 recall is a noise floor:
  * 0.021–0.063). Reports, per BENCH_SF1.md's table:
  *
  *  - q41/q50 (LSH / IVF auto top-k): recall@5 against an EXACT sampled
  *    ground truth — every `sampleEvery`-th vector's true top-5 from one
  *    broadcast scan of the corpus (n·nSamples·d primitive kernel, so it
  *    scales to fixtures where the all-pairs oracle cannot run).
  *  - q120/q130 (hard negatives / triplets, Auto): tuple overlap vs the
  *    exact miners — full corpus when n ≤ maxExact (the guarded O(n²)
  *    kernel's affordable range), skipped above it with q41's sampled
  *    recall standing in for the shared LSH candidate stage.
  *  - q132 (SemDedup approx): keep-decision agreement vs the exact path.
  *
  * Usage: ClusteredRecallBench <clusteredDir> [sampleEvery=199]
  *        [maxExact=25000] [tau=0.6]
  */
object ClusteredRecallBench {
  def main(args: Array[String]): Unit = {
    val dir         = args(0)
    val sampleEvery = args.lift(1).map(_.toLong).getOrElse(199L)
    val maxExact    = args.lift(2).map(_.toLong).getOrElse(25000L)
    val tau         = args.lift(3).map(_.toDouble).getOrElse(0.6)
    val spark = GraftSession.local()
    import spark.implicits._

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n   = emb.count()
    println(s"[clustered] corpus $dir n=$n sampleEvery=$sampleEvery tau=$tau")

    // ── exact sampled ground truth: one broadcast kernel pass ─────────
    def round6(x: Double): Double =
      if (java.lang.Double.isFinite(x))
        java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else x
    def beats(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
      val c = java.lang.Double.compare(s1, s2)
      c > 0 || (c == 0 && id1 < id2)
    }
    val k = 5
    val v = emb
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
    val queries = v.filter(_._1 % sampleEvery == 0L).collect().sortBy(_._1)
    val qNrm    = queries.map { case (_, e) => math.sqrt(e.map(x => x * x).sum) }
    val bc      = spark.sparkContext.broadcast((queries, qNrm))
    val partial = v
      .mapPartitions { it =>
        val (qs, qn) = bc.value
        val nq = qs.length
        val ss = Array.fill(nq, k)(Double.NegativeInfinity)
        val bs = Array.fill(nq, k)(Long.MaxValue)
        val hit = Array.fill(nq, k)(false)
        it.foreach { case (id, e) =>
          var s = 0.0
          var i = 0
          while (i < e.length) { s += e(i) * e(i); i += 1 }
          val nrm = math.sqrt(s)
          var qi = 0
          while (qi < nq) {
            val (qid, qe) = qs(qi)
            if (qid != id) {
              var d  = 0.0
              var j  = 0
              val dd = math.min(qe.length, e.length)
              while (j < dd) { d += qe(j) * e(j); j += 1 }
              val cs = round6(d / (qn(qi) * nrm))
              // insertion into the query's top-k, (cos desc, id asc)
              if (!hit(qi)(k - 1) || beats(cs, id, ss(qi)(k - 1), bs(qi)(k - 1))) {
                var p = k - 1
                while (p > 0 && (!hit(qi)(p - 1) || beats(cs, id, ss(qi)(p - 1), bs(qi)(p - 1)))) {
                  ss(qi)(p) = ss(qi)(p - 1); bs(qi)(p) = bs(qi)(p - 1); hit(qi)(p) = hit(qi)(p - 1)
                  p -= 1
                }
                ss(qi)(p) = cs; bs(qi)(p) = id; hit(qi)(p) = true
              }
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          (0 until k).flatMap(j =>
            if (hit(qi)(j)) Some((qs(qi)._1, ss(qi)(j), bs(qi)(j))) else None)
        }
      }
      .collect()
    val exactTop: Map[Long, Set[Long]] = partial
      .groupBy(_._1)
      .map { case (qid, rows) =>
        qid -> rows
          .sortWith { case ((_, s1, b1), (_, s2, b2)) => beats(s1, b1, s2, b2) }
          .take(k)
          .map(_._3)
          .toSet
      }
    val exactPairs: Set[(Long, Long)] =
      exactTop.iterator.flatMap { case (a, bs) => bs.map(a -> _) }.toSet
    println(s"[clustered] exact sampled ground truth: ${exactTop.size} queries, " +
      s"${exactPairs.size} pairs")

    def recallOf(df: DataFrame): Double = {
      val approx = df
        .where(col("a_id") % sampleEvery === 0L)
        .select(col("a_id").cast("long"), col("b_id").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      (exactPairs intersect approx).size.toDouble / exactPairs.size
    }

    val autoT = graft.llm.AnnBuckets.autoTables(n)
    for (seed <- Seq(42L, 7L, 1234L)) {
      val t0  = System.nanoTime()
      val lsh = recallOf(graft.llm.AnnBuckets
        .approxTopK(emb, "vec_id", "embedding", k = k, nTables = 4, seed = seed, nProbes = 0))
      val t1 = System.nanoTime()
      // the Auto-tables path (autoTables compensates autoBits' recall
      // decay — VERDICT r12 item 3); candidate volume printed so the
      // growth stays visibly ~n·log-ish, not quadratic
      val lshAuto = recallOf(graft.llm.AnnBuckets
        .approxTopK(emb, "vec_id", "embedding", k = k,
          nTables = graft.llm.AnnBuckets.Auto, seed = seed, nProbes = 0))
      val t2  = System.nanoTime()
      val ivf = recallOf(graft.llm.IvfIndex
        .approxTopK(emb, "vec_id", "embedding", k = k, nProbe = 3, seed = seed.toInt))
      val t3 = System.nanoTime()
      println(f"[clustered] recall@5 seed=$seed lsh_t4=$lsh%.3f (${(t1 - t0) / 1e9}%.1f s) " +
        f"lsh_autoT=$lshAuto%.3f tables=$autoT (${(t2 - t1) / 1e9}%.1f s) " +
        f"ivf_auto=$ivf%.3f (${(t3 - t2) / 1e9}%.1f s)")
    }

    // ── multi-probe: recall bought by probes instead of tables ────────
    // (Lv et al. 2007) — T tables × P probes vs plain T tables: the probe
    // side carries (P+1)·n join rows where an extra table costs a whole
    // index copy; the interesting comparison is t4p2 / t2p3 against
    // lsh_t4 and lsh_autoT above, at their wall-clock
    for (seed <- Seq(42L, 7L, 1234L)) {
      def timed(nt: Int, np: Int): (Double, Double) = {
        val t0 = System.nanoTime()
        val r = recallOf(graft.llm.AnnBuckets
          .approxTopK(emb, "vec_id", "embedding", k = k, nTables = nt, seed = seed, nProbes = np))
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (r42, s42) = timed(4, 2)
      val (r23, s23) = timed(2, 3)
      val (r44, s44) = timed(4, 4)
      val (r32, s32) = timed(3, 2)
      val (r52, s52) = timed(5, 2)
      println(f"[clustered] multiprobe seed=$seed t4p2=$r42%.3f ($s42%.1f s) " +
        f"t2p3=$r23%.3f ($s23%.1f s) t4p4=$r44%.3f ($s44%.1f s) " +
        f"t3p2=$r32%.3f ($s32%.1f s) t5p2=$r52%.3f ($s52%.1f s)")
    }

    // ── q120 / q130: tuple overlap vs the exact miners ────────────────
    if (n <= maxExact) {
      def pairsOf(df: DataFrame): Set[(Long, Long)] = df
        .select(col("anchor").cast("long"), col("neighbor").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactHn = pairsOf(graft.llm.EmbeddingStats
        .hardNegatives(emb, "vec_id", "cluster", "embedding", tau = tau, k = 3))
      def tripletsOf(df: DataFrame): Set[(Long, Long, Long)] = df
        .select(col("anchor").cast("long"), col("pos_id").cast("long"), col("neg_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val exactTr = tripletsOf(graft.llm.EmbeddingStats
        .trainingTriplets(emb, "vec_id", "cluster", "embedding", tau = tau))
      // nTables is the miners' recall knob — sweep it so the table shows
      // the operating curve, not one point; Auto resolves via autoTables
      for ((nt, np) <- Seq((4, 0), (8, 0), (16, 0), (graft.llm.AnnBuckets.Auto, 0),
          (4, 2), (4, 4))) {
        val ntLabel = if (nt == graft.llm.AnnBuckets.Auto) s"auto($autoT)" else nt.toString
        val label   = if (np == 0) ntLabel else s"$ntLabel p$np"
        val approxHn = pairsOf(graft.llm.EmbeddingStats
          .hardNegativesApprox(emb, "vec_id", "cluster", "embedding", tau = tau, k = 3,
            nTables = nt, nProbes = np))
        val approxTr = tripletsOf(graft.llm.EmbeddingStats
          .trainingTripletsApprox(emb, "vec_id", "cluster", "embedding", tau = tau,
            nTables = nt, nProbes = np))
        println(f"[clustered] tables=$label%-8s q120 hard-negative overlap=" +
          f"${(exactHn intersect approxHn).size.toDouble / math.max(1, exactHn.size)}%.3f " +
          s"(exact=${exactHn.size} approx=${approxHn.size}) " +
          f"| q130 triplet overlap=" +
          f"${(exactTr intersect approxTr).size.toDouble / math.max(1, exactTr.size)}%.3f " +
          s"(exact=${exactTr.size} approx=${approxTr.size})")
      }
    } else
      println(s"[clustered] q120/q130 exact miners skipped at n=$n > $maxExact " +
        "(O(n^2) pair stage); their LSH candidate stage is q41's, measured above")

    // ── q132: SemDedup keep-decision agreement vs exact ───────────────
    def kept(df: DataFrame): Set[Long] = df
      .where(col("keep"))
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    val semTau  = 0.8
    val exactKp = kept(graft.llm.SemDedup.keepFlags(emb, "vec_id", "embedding", tau = semTau))
    val apxKp   = kept(graft.llm.SemDedup
      .keepFlagsApprox(emb, "vec_id", "embedding", tau = semTau, nTables = 8, nProbes = 0))
    val agree = (n - ((exactKp diff apxKp) ++ (apxKp diff exactKp)).size).toDouble / n
    println(f"[clustered] q132 semdedup keep agreement=$agree%.3f " +
      s"(exact keeps ${exactKp.size}, approx ${apxKp.size})")
    val apxKpA = kept(graft.llm.SemDedup
      .keepFlagsApprox(emb, "vec_id", "embedding", tau = semTau,
        nTables = graft.llm.AnnBuckets.Auto, nProbes = 0))
    val agreeA = (n - ((exactKp diff apxKpA) ++ (apxKpA diff exactKp)).size).toDouble / n
    println(f"[clustered] q132 semdedup keep agreement (auto tables=$autoT)=$agreeA%.3f " +
      s"(approx ${apxKpA.size})")
    val apxKpMp = kept(graft.llm.SemDedup
      .keepFlagsApprox(emb, "vec_id", "embedding", tau = semTau, nTables = 4, nProbes = 2))
    val agreeMp = (n - ((exactKp diff apxKpMp) ++ (apxKpMp diff exactKp)).size).toDouble / n
    println(f"[clustered] q132 semdedup keep agreement (4 tables x 2 probes)=$agreeMp%.3f " +
      s"(approx ${apxKpMp.size})")
    spark.stop()
  }
}
