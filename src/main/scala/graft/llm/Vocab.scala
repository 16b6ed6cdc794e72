package graft.llm

import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Vocabulary id assignment at scale (SURVEY.md §2B north star).
  *
  * A dense rank over a full token table must NOT be a partition-less
  * window — `row_number().over(Window.orderBy(...))` funnels the whole
  * table through one task ("WindowExec: No Partition Defined"). Two
  * scale-safe shapes instead:
  *
  *  - [[topK]]: when only the k most frequent tokens are kept, take the
  *    global top-k first (TakeOrderedAndProject: each partition keeps k
  *    candidates, the driver merges k·p rows) and assign ids on the
  *    k-row result.
  *  - [[denseIds]]: for a full-vocab build, two-phase assignment —
  *    range-partition by the order key so partition p holds a contiguous
  *    rank range, count rows per partition (first job), then
  *    id = partition offset + local index (second job). This is RDD
  *    `zipWithIndex`, the canonical two-job dense-numbering pattern; no
  *    partition ever sees more than its own slice.
  */
object Vocab {

  /** Global top-k by `order` with dense ids `1..k` assigned in that
    * order. The `limit(k)` collapses to a single k-row partition
    * (TakeOrderedAndProject), so the local sort +
    * `monotonically_increasing_id` that follows is k-row work regardless
    * of input size — no global window anywhere in the plan.
    */
  def topK(df: DataFrame, k: Int, order: Seq[Column], idCol: String): DataFrame =
    df.orderBy(order: _*)
      .limit(k)
      .coalesce(1)
      .sortWithinPartitions(order: _*)
      // single partition ⇒ monotonically_increasing_id is 0..k-1 in row order
      .withColumn(idCol, (monotonically_increasing_id() + 1).cast("int"))

  /** Dense 1-based ids over the FULL frame in `order`, without a global
    * window: range-partition by the key (so ranks are contiguous per
    * partition), then `zipWithIndex` — one partition-count job plus one
    * map. Use for full-vocab builds where every token keeps an id.
    */
  def denseIds(df: DataFrame, order: Seq[Column], idCol: String): DataFrame = {
    val spark  = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = sorted.schema.add(idCol, LongType, nullable = false)
    val rdd    = sorted.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rdd, schema)
  }

  /** Out-of-vocabulary normalization: rewrite every token outside the
    * top-`k` vocabulary (count desc, token asc — the [[topK]] order) to
    * `unk`, returning the original frame plus `text_unk` (the rewritten
    * string) and `n_unk` (tokens replaced). The vocabulary is a bounded
    * driver-side list (O(k), like [[Decontamination]]'s eval set)
    * embedded as an array literal, so the rewrite itself is one
    * codegen'd projection — `transform` + `array_contains` over the
    * split tokens, no join, no shuffle beyond the vocab aggregation.
    * For vocabularies too big for a literal (≫10⁵), switch to a
    * posexplode + broadcast-join + re-assembly plan; at the k this op is
    * for (unk-scrubbing uses small working vocabularies), the literal
    * wins: per-token work is a k-element scan inside one stage.
    */
  def unkRewrite(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      unk: String = "<unk>"): DataFrame = {
    import graft.core.Cols
    val vocab: Seq[String] = docs
      .select(explode(split(Cols.q(textCol), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(k)
      .select("tok")
      .collect()
      .toSeq
      .map(_.getString(0))
    val vlit = typedLit(vocab)
    val tks  = split(Cols.q(textCol), " ")
    docs
      .withColumn(
        "text_unk",
        concat_ws(" ", transform(tks, t => when(array_contains(vlit, t), t).otherwise(lit(unk)))))
      .withColumn(
        "n_unk",
        size(filter(tks, t => !array_contains(vlit, t))).cast("long"))
  }

  /** Per-document corpus-unigram log-probability — the KenLM-shaped
    * quality score LLM pipelines threshold on (low mean log-prob ⇒
    * out-of-distribution / junk): score(d) = mean over d's tokens of
    * ln(count(t) / total_tokens), counts taken over the whole corpus.
    *
    * Scale shape: one shuffled token-count aggregation (vocab-sized
    * output), total via a single-row agg crossed in, then the token
    * stream joins the vocab table and one regroup by doc. The join
    * strategy must NOT be left to Catalyst: it costs the token stream
    * by its (tiny, compressed) parquet scan and builds the exploded
    * corpus-sized side (observed BuildLeft at sf1 — a corpus-sized
    * broadcast at scale). With `broadcastVocab=true` (default) the
    * vocab side is broadcast — right whenever the working vocabulary
    * is bounded (it is sublinear in corpus size, but an OPEN whitespace
    * vocabulary over web-scale text still reaches tens of GB). For that
    * open-vocabulary regime pass `broadcastVocab=false`: a shuffle-hash
    * hint on the vocab side makes the join a hash join with NO
    * broadcast of either side, degrading to one extra shuffle of the
    * token stream instead of a driver OOM. Every token is
    * in-vocabulary by construction, so the join is inner and lossless.
    */
  def unigramLogProb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      broadcastVocab: Boolean = true): DataFrame = {
    import graft.core.Cols
    val toks = docs.select(Cols.q(idCol).as("__id"), explode(split(Cols.q(textCol), " ")).as("tok"))
    val cnt  = toks.groupBy("tok").agg(count(lit(1)).as("n"))
    val tot  = cnt.agg(sum("n").as("total"))
    val lp   = cnt.crossJoin(tot).select(col("tok"), log(col("n").cast("double") / col("total")).as("lp"))
    val vocabSide = if (broadcastVocab) broadcast(lp) else lp.hint("shuffle_hash")
    toks
      .join(vocabSide, Seq("tok"))
      .groupBy(col("__id").as(idCol))
      .agg(avg("lp").as("logprob"), count(lit(1)).cast("long").as("n_tokens"))
  }

  /** CCNet-style perplexity banding: score every document with
    * [[unigramLogProb]], then bucket it into `head` / `middle` / `tail`
    * within its language by per-language log-prob quantile thresholds
    * (the fluency screen web-corpus pipelines run before mixing — keep
    * head+middle, drop the word-salad tail).
    *
    * Scale shape: NOT an `ntile` window (a per-language global
    * sort-and-scan funnels the dominant language through one task — the
    * skew bomb [[CorpusSelect.tokenBudgetPerGroup]] exists to avoid).
    * Instead the thresholds are ONE languages-sized aggregate —
    * `ScaleMode.Exact` interpolated percentiles for oracle parity,
    * `ScaleMode.Approx` (t-digest style) as the 100 TB path — broadcast
    * back over the scored stream, and the band is a codegen CASE.
    *
    * Determinism: log-probs are rounded to 6 dp BEFORE the thresholds
    * are computed, so the quantile inputs are identical across engines;
    * an interpolated threshold either equals a data value exactly (both
    * engines compute `lo + (hi-lo)·0 = lo` / `lo + 0·f = lo`) or lies
    * strictly between two distinct data values where no document can
    * sit — either way the `>=` band comparisons agree.
    *
    * @param headQ log-prob quantile at-or-above which a document is
    *              `head` (default 0.7 = top 30%)
    * @param midQ  quantile at-or-above which it is `middle`; below is
    *              `tail`
    */
  def logProbBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      headQ: Double = 0.7,
      midQ: Double = 0.3,
      mode: graft.core.ScaleMode = graft.core.ScaleMode.Exact): DataFrame = {
    import graft.core.{Cols, Stats}
    require(0 < midQ && midQ < headQ && headQ < 1, s"need 0 < midQ < headQ < 1, got ($midQ, $headQ)")
    val lp = unigramLogProb(docs, idCol, textCol)
      .select(Cols.q(idCol), round(col("logprob"), 6).as("logprob"))
    val scored = lp.join(docs.select(Cols.q(idCol), Cols.q(groupCol)), Seq(idCol))
    val th = scored
      .groupBy(Cols.q(groupCol))
      .agg(
        Stats.percentile(col("logprob"), midQ, mode).as("__t_mid"),
        Stats.percentile(col("logprob"), headQ, mode).as("__t_head"))
    scored
      .join(broadcast(th), Seq(groupCol))
      .select(
        Cols.q(idCol),
        Cols.q(groupCol),
        col("logprob"),
        when(col("logprob") >= col("__t_head"), "head")
          .when(col("logprob") >= col("__t_mid"), "middle")
          .otherwise("tail")
          .as("band"))
  }

  /** Per-document bigram log-probability under an add-k-smoothed corpus
    * bigram model — the next step up from [[unigramLogProb]]'s KenLM-shaped
    * junk screen: word-salad documents whose unigrams look normal but whose
    * transitions are noise score low. For each adjacent pair (a,b):
    * `ln((c(a,b) + k) / (c(a) + k·V))` with `c(a) = Σ_b c(a,b)` (bigram
    * prefix counts) and `V` the unigram type count; the score is the mean
    * over the document's bigrams.
    *
    * Scale shape: pair extraction is one projection
    * ([[TextAnalysis.adjacentPairs]]) + explode; the model is two shuffled
    * aggs (bigram counts, prefix counts) joined back to the pair stream —
    * broadcast by default (bigram vocabularies are usually executor-sized),
    * `broadcastVocab = false` switches the rejoin to shuffle-hash for open
    * vocabularies, same contract as [[unigramLogProb]]. Documents with no
    * bigram (0–1 tokens) are absent from the output.
    */
  def bigramLogProb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Double = 0.5,
      broadcastVocab: Boolean = true): DataFrame = {
    import graft.core.Cols
    require(k > 0, s"smoothing k must be > 0, got $k")
    val toks = docs.select(Cols.q(idCol).as("__id"), split(Cols.q(textCol), " ").as("__tk"))
    val pairs = toks
      .select(col("__id"), explode(TextAnalysis.adjacentPairs(col("__tk"))).as("__p"))
      .select(col("__id"), col("__p.a").as("a"), col("__p.b").as("b"))
    val cab = pairs.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val ca  = cab.groupBy("a").agg(sum("cab").as("ca"))
    val v = toks
      .select(explode(col("__tk")).as("tok"))
      .agg(countDistinct("tok").cast("double").as("vs"))
    val lp = cab
      .join(ca, Seq("a"))
      .crossJoin(broadcast(v))
      .select(
        col("a"),
        col("b"),
        log((col("cab").cast("double") + lit(k)) / (col("ca").cast("double") + lit(k) * col("vs"))).as("lp"))
    val modelSide = if (broadcastVocab) broadcast(lp) else lp.hint("shuffle_hash")
    pairs
      .join(modelSide, Seq("a", "b"))
      .groupBy(col("__id").as(idCol))
      .agg(avg("lp").as("logprob"), count(lit(1)).cast("long").as("n_bigrams"))
  }

  /** Holdout variant of [[bigramLogProb]]: the model (bigram counts,
    * prefix counts, vocabulary size) is trained ONLY on `train`; `test`
    * documents are scored under it, with unseen bigrams/prefixes falling
    * back to the smoothing mass (`cab = ca = 0` → P = 1/V). This is the
    * eval half of a leakage-safe pipeline: paired with
    * [[DupClusters.leakSafeSplit]] the score is an honest held-out
    * perplexity, not a memorization read-back.
    *
    * Same scale contract as [[bigramLogProb]]: model sides broadcast by
    * default, `broadcastModel = false` for open vocabularies.
    */
  def bigramLogProbHoldout(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      k: Double = 0.5,
      broadcastModel: Boolean = true): DataFrame = {
    import graft.core.Cols
    require(k > 0, s"smoothing k must be > 0, got $k")
    // hoist the token array into its own projection FIRST: adjacentPairs
    // captures its argument inside a transform lambda, and a captured
    // split() re-evaluates per element — O(tokens²) per doc (the q58
    // HOF lesson; observed 18× on the sf1 holdout plan)
    def pairsOf(df: DataFrame): DataFrame = df
      .select(Cols.q(idCol).as("__id"), split(Cols.q(textCol), " ").as("__tk"))
      .select(col("__id"), explode(TextAnalysis.adjacentPairs(col("__tk"))).as("__p"))
      .select(col("__id"), col("__p.a").as("a"), col("__p.b").as("b"))
    // cab pinned eagerly (r16): the prefix-count model `ca` derives from
    // it, and under lazy evaluation the ca broadcast replayed cab's whole
    // plan — a second full train-side scan + pair explode just to re-sum
    // counts the cab job already produced. cab is MODEL-sized (the train
    // bigram vocabulary — the same bound the broadcastModel default
    // already assumes fits in memory), so the pin holds the model, never
    // the corpus.
    val cab = Pin.cut(pairsOf(train).groupBy("a", "b").agg(count(lit(1)).as("cab")))
    val ca  = cab.groupBy("a").agg(sum("cab").as("ca"))
    val v = train
      .select(explode(split(Cols.q(textCol), " ")).as("tok"))
      .agg(countDistinct("tok").cast("double").as("vs"))
    def side(df: DataFrame) = if (broadcastModel) broadcast(df) else df.hint("shuffle_hash")
    pairsOf(test)
      .join(side(cab), Seq("a", "b"), "left")
      .join(side(ca), Seq("a"), "left")
      .crossJoin(broadcast(v))
      .select(
        col("__id"),
        log((coalesce(col("cab"), lit(0L)).cast("double") + lit(k)) /
          (coalesce(col("ca"), lit(0L)).cast("double") + lit(k) * col("vs"))).as("lp"))
      .groupBy(col("__id").as(idCol))
      .agg(avg("lp").as("logprob"), count(lit(1)).cast("long").as("n_bigrams"))
  }

  /** Vocabulary coverage curve — for each cutoff k in `ks`, the fraction
    * of all corpus TOKEN OCCURRENCES covered by the k most frequent
    * types (the tokenizer-design question "how big a vocab do we
    * need"). Returns (k, n_types, coverage): `n_types` = how many types
    * actually rank ≤ k (< k when the vocabulary is smaller).
    *
    * Scale shape: token counts are one shuffled agg; ranking is
    * [[denseIds]] (two-phase, no global window over the vocab); each
    * type is then assigned to the SMALLEST grid cutoff that admits it
    * and the curve is a running sum over the grid-sized aggregate —
    * the only ordered window runs over ≤ |ks| rows regardless of
    * corpus or vocabulary size.
    */
  def coverageCurve(docs: DataFrame, textCol: String, ks: Seq[Int]): DataFrame = {
    import graft.core.Cols
    import org.apache.spark.sql.expressions.Window
    require(ks.nonEmpty && ks.forall(_ >= 1), s"cutoffs must be >= 1, got $ks")
    val spark    = docs.sparkSession
    val sortedKs = ks.distinct.sorted
    val cnt = docs
      .select(explode(split(Cols.q(textCol), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
    val ranked = denseIds(cnt, Seq(col("n").desc, col("tok").asc), "token_id")
    // total over RANKED, not cnt: denseIds materializes cnt's shuffle into
    // an RDD-backed frame, so `cnt.agg` would compile to a FRESH subtree
    // that re-reads the corpus and re-runs the vocab agg just for one
    // scalar; aggregating the ranked frame reuses the materialized output
    val total = ranked.agg(sum("n").cast("double").as("total"))
    // smallest grid cutoff admitting this type (null → beyond the grid)
    val bucket = sortedKs.reverse.foldLeft(lit(null).cast("int")) { (acc, k) =>
      when(col("token_id") <= k, lit(k)).otherwise(acc)
    }
    val perBucket = ranked
      .where(bucket.isNotNull)
      .groupBy(bucket.as("k"))
      .agg(sum("n").as("bn"), count(lit(1)).as("bt"))
    import spark.implicits._
    val grid = sortedKs.toDF("k")
    // the partition-less window is over ≤ |ks| grid rows by construction
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(perBucket, Seq("k"), "left")
      .select(col("k"), coalesce(col("bn"), lit(0L)).as("bn"), coalesce(col("bt"), lit(0L)).as("bt"))
      .withColumn("n_types", sum("bt").over(w))
      .withColumn("cum_n", sum("bn").over(w))
      .crossJoin(broadcast(total))
      // empty corpus → total is null; return ZERO rows (the relational
      // formulation's answer) instead of a grid of null coverages
      .where(col("total").isNotNull)
      .select(col("k"), col("n_types"), round(col("cum_n") / col("total"), 6).as("coverage"))
  }

  /** Phrase detection (Mikolov et al. 2013, word2vec phrases): score each
    * adjacent token pair by `(c(ab) − δ) · N / (c(a) · c(b))` — pairs
    * that co-occur far above chance are collocations worth fusing into
    * single tokens ("new york") before training; δ discounts rare pairs.
    * Returns the top-`k` pairs: (rn, a, b, cab, ca, cb, score), score
    * rounded to 6 dp BEFORE ranking (id tie-breaks), so near-ties order
    * identically on every engine.
    *
    * Scale shape: one pair-count agg ([[TextAnalysis.adjacentPairs]]
    * projection — no self-join) + one unigram agg, joined pair←unigram
    * twice; both sides are vocabulary-sized, the joins shuffle no
    * corpus-sized stream, and top-k is a TakeOrdered. The N scalar rides
    * a broadcast crossJoin.
    */
  def phraseScores(
      docs: DataFrame,
      textCol: String,
      k: Int = 30,
      delta: Double = 5.0): DataFrame = {
    import graft.core.Cols
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .where(Cols.q(textCol).isNotNull)
      .select(split(Cols.q(textCol), " ").as("__tk"))
    val pairs = toks
      .select(explode(TextAnalysis.adjacentPairs(col("__tk"))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cab"))
    val uni = toks
      .select(explode(col("__tk")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").cast("double").as("n"))
    val scored = pairs
      .join(uni.select(col("tok").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(
        col("a"),
        col("b"),
        col("cab"),
        col("ca"),
        col("cb"),
        round(
          (col("cab").cast("double") - lit(delta)) * col("n") /
            (col("ca").cast("double") * col("cb").cast("double")),
          6).as("score"))
      .orderBy(col("score").desc, col("a").asc, col("b").asc)
      .limit(k)
    // the partition-less window runs over <= k rows by construction
    val w = Window.orderBy(col("score").desc, col("a").asc, col("b").asc)
    scored.withColumn("rn", row_number().over(w))
  }
}
