package graft.llm

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation — the measurement a curation pipeline
  * runs BEFORE trusting its retrieval stack for dedup, decontamination
  * or hard-negative mining: given any ranked result table and a gold
  * table, report recall@k and MRR@k per cutoff. Method-agnostic by
  * design: [[Bm25.topKPerQuery]], [[AnnBuckets.approxTopK]] /
  * `approxTopKIndexed` (rename a_id/b_id), [[Bm25.topKHybrid]] and
  * [[Bm25.rrfFuse]] all emit the (q_id, doc_id, rn) shape this consumes,
  * so the same report compares lexical vs embedding vs fused retrieval
  * on one gold set.
  *
  * Scale shape: one left join of the gold pairs against the results on
  * (q_id, doc_id) — gold is the small side (broadcastable), results are
  * ≤ queries × k rows by construction — then two bounded aggregations.
  * Nothing touches the corpus.
  */
object RetrievalEval {

  /** recall@k and MRR@k per cutoff.
    *
    * recall@k = over GOLD PAIRS: the fraction whose document appears at
    * rank ≤ k for its query (multi-gold queries count each gold pair).
    * MRR@k = over QUERIES: mean of 1/best-rank-of-any-gold, 0 when no
    * gold is retrieved within k.
    *
    * Determinism for the hash oracle: hit indicators and reciprocal
    * ranks are rounded to 6 dp and summed as DECIMAL (exact,
    * order-independent), then divided by the count in ONE double
    * division — a plain double `avg` would hash-differ on partial-
    * aggregation order.
    *
    * @param results (q_id, doc_id, rn) ranked rows, rn ≥ 1
    * @param gold    (q_id, gold_id) expected documents per query
    * @return one row per k: (k, recall, mrr), ordered by k
    *
    * @note EAGER: this method executes the caller's entire retrieval
    *       plan AT CALL TIME (ADVICE r16) — the gold⋈results rank table
    *       is cut ([[graft.core.Pin.cut]]) so the upstream
    *       retrieval runs exactly once instead of once per report branch.
    *       Batch inputs only (a checkpoint cannot pin a stream), and the
    *       cost is paid even if the returned report is never consumed.
    */
  def report(
      results: DataFrame,
      gold: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"cutoffs must be >= 1, got $ks")
    val spark = results.sparkSession
    import spark.implicits._
    // pinned eagerly (r16): `ranks` carries the caller's WHOLE retrieval
    // plan as the join's right side and feeds BOTH the recall branch and
    // the MRR branch — lazily, an expensive upstream retrieval (q142
    // passes the full q141 multi-query BM25) re-executes once per branch
    // unless AQE happens to reuse its exchanges. The pinned frame is one
    // row per gold pair — nothing corpus- or result-set-sized.
    val ranks = Pin.cut(gold
      .select(col("q_id"), col("gold_id"))
      .join(
        results.select(col("q_id"), col("doc_id").as("gold_id"), col("rn").as("rank")),
        Seq("q_id", "gold_id"),
        "left"))
    val best = ranks.groupBy("q_id").agg(min("rank").as("best"))
    val kdf  = ks.toDF("k")
    val recall = ranks
      .crossJoin(kdf)
      .groupBy("k")
      .agg(
        sum(when(col("rank").isNotNull && col("rank") <= col("k"), lit(1.0))
          .otherwise(lit(0.0)).cast("decimal(20,6)")).as("__hits"),
        count(lit(1)).as("__pairs"))
      .select(
        col("k"),
        round(col("__hits").cast("double") / col("__pairs"), 6).as("recall"))
    val mrr = best
      .crossJoin(kdf)
      .groupBy("k")
      .agg(
        sum(when(col("best").isNotNull && col("best") <= col("k"),
          round(lit(1.0) / col("best"), 6)).otherwise(lit(0.0)).cast("decimal(20,6)"))
          .as("__rr"),
        count(lit(1)).as("__queries"))
      .select(
        col("k"),
        round(col("__rr").cast("double") / col("__queries"), 6).as("mrr"))
    recall.join(mrr, Seq("k")).orderBy("k")
  }
}
