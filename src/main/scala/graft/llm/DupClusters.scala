package graft.llm

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a near-dup
  * pair list (reference behavior: the pairwise dedup ops in
  * `/root/reference/src/tasks.py` stop at pairs; cluster formation is the
  * standard production step after them — every doc in a connected group
  * of near-dups shares one cluster id, and keep-one-per-cluster is then a
  * trivial filter).
  *
  * Algorithm: hash-min label propagation — every vertex starts labelled
  * with its own id; each round every vertex takes the min of its label
  * and its neighbours' labels; fixpoint = components labelled by their
  * min member id. This is the classic Spark-scale CC formulation:
  *
  *  - state per round is ONE (id, lbl) table, shuffled by join key — no
  *    driver-side graph, no per-vertex state bigger than a long;
  *  - rounds = O(component diameter), and near-dup graphs are
  *    short-diameter (dup groups are near-cliques), so the loop
  *    terminates in a handful of rounds;
  *  - each round cuts the label table ([[graft.core.Pin.cut]]) so the
  *    plan does not grow with iterations, and releases the round it
  *    supersedes;
  *  - convergence is detected with one O(1) count per round (changed
  *    labels), not a collect.
  *
  * For adversarial long-chain graphs at 100 TB the alternating
  * large-star/small-star variant (Kiveris et al., "Connected Components
  * in MapReduce and Beyond") converges in O(log n) rounds with the same
  * per-round shape; the simple hash-min here is the right trade for
  * dedup graphs.
  */
object DupClusters {

  private val RoundSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** @param vertices one column `id` — every vertex that should appear in
    *                 the output (isolated vertices label themselves)
    * @param edges    two columns `a_id`, `b_id` — undirected pairs
    * @return (id, cluster_id) with cluster_id = min id reachable
    */
  def connectedComponents(
      vertices: DataFrame,
      edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    // symmetrize in ONE pass over the (possibly expensive) edge plan: an
    // explode of the two directed forms, not a self-union — a union would
    // run the upstream pair-generation plan twice per materialization.
    // Pre-partition by the lookup key `d` before the checkpoint: Dataset
    // checkpoints preserve outputPartitioning, so the per-round label join
    // never re-shuffles the edge table (the big side of the loop).
    val sym = Pin.cut(edges
      .select(explode(array(
        struct(col("a_id").cast("long").as("s"), col("b_id").cast("long").as("d")),
        struct(col("b_id").cast("long").as("s"), col("a_id").cast("long").as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
      .repartition(col("d")))

    var labels = Pin.cut(vertices
      .select(col("id").cast("long").as("id"), col("id").cast("long").as("lbl"))
      .repartition(col("id")))

    var it      = 0
    var changed = 1L
    while (changed > 0 && it < maxIters) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "d_id"), col("d") === col("d_id"))
        .groupBy(col("s").as("id"))
        .agg(min("lbl").as("nlbl"))
      // the changed-label count piggybacks the checkpoint materialization
      // job as an observed metric — one job per round, not two
      val obs = org.apache.spark.sql.Observation(s"cc_round_${RoundSeq.incrementAndGet()}")
      val next = Pin.cut(labels
        .withColumnRenamed("lbl", "old")
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("old"), coalesce(col("nlbl"), col("old"))).as("lbl"),
          col("old"))
        .observe(obs, sum(when(col("lbl") =!= col("old"), 1L).otherwise(0L)).as("changed")))
      changed = Option(obs.get.getOrElse("changed", null)).map(_.asInstanceOf[Long]).getOrElse(0L)
      Pin.release(labels)
      labels = next.select("id", "lbl")
      it += 1
    }
    Pin.release(sym)
    require(changed == 0, s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Production near-dup clustering entrypoint: n-gram-Jaccard ≥ `tau`
    * pair graph ([[Dedup.ngramJaccardPairs]]) → connected components.
    * `maxShingleDf` defaults to [[Dedup.DefaultMaxShingleDf]] — the
    * production bound that keeps pair expansion sub-quadratic at corpus
    * scale (a universal stop-shingle otherwise funds O(df²) pair rows);
    * capped runs compute Jaccard over the retained-shingle universe
    * (deterministic, and replayable by a SQL oracle — the declared
    * q69/q84/q90/q100 run this default capped plan with the df cap
    * replayed in their DuckDB oracles). Pass `None` for exact
    * all-shingle Jaccard (spec-pinned at tiny scale in DedupSpec).
    *
    * Returns one row per input document: (`idCol`, cluster_id) with
    * cluster_id = min reachable document id.
    */
  def clusterDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.8,
      maxShingleDf: Option[Long] = Some(Dedup.DefaultMaxShingleDf),
      maxIters: Int = 50): DataFrame = {
    // threshold known here ⇒ prefix-filtered generation (exact for ≥ tau;
    // see Dedup.prefixFilteredPairs) — candidates come from the rarest
    // (1−tau) of each doc's shingles instead of every co-occurrence
    val edges = Dedup
      .ngramJaccardPairs(docs, idCol, textCol, n, maxShingleDf, minJaccard = Some(tau))
      .where(col("jaccard") >= tau)
      .select("a_id", "b_id")
    connectedComponents(docs.select(graft.core.Cols.q(idCol).as("id")), edges, maxIters)
      .withColumnRenamed("id", idCol)
  }

  /** Leakage-safe train/test split: the split decision is drawn from the
    * CLUSTER label, not the document id, so every member of a near-dup
    * component lands on the same side — the standard guard against
    * train/eval contamination through paraphrase duplicates (the same
    * failure mode [[Decontamination]] screens for, closed off at split
    * time instead of audit time). One codegen projection over the
    * (id, cluster_id) table; the draw itself is [[Sampling.trainTestSplit]]
    * (salted-md5 threshold — deterministic and cluster-size-invariant).
    */
  def leakSafeSplit(
      clusters: DataFrame,
      clusterCol: String = "cluster_id",
      trainThreshold: String = "cc",
      salt: String = "split"): DataFrame =
    clusters.withColumn(
      "split",
      Sampling.trainTestSplit(col(clusterCol), trainThreshold, salt))

  /** Canonical-document election — the decision a dedup pipeline actually
    * ships: per cluster, keep the member with the highest score (rounded
    * upstream by the caller so near-ties rank identically across engines;
    * remaining ties → smallest id). Input is the member table with its
    * cluster and score columns already attached; output adds
    * `survivor_id` and `keep`. One window over the cluster key — cluster
    * sizes are dup-set sizes, so the per-partition sort is tiny at any
    * corpus scale.
    */
  def electSurvivors(
      members: DataFrame,
      idCol: String,
      clusterCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    members
      .withColumn("survivor_id", first(col(idCol)).over(w))
      .withColumn("keep", col(idCol) === col("survivor_id"))
  }
}
