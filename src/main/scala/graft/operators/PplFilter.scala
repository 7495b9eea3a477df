package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style perplexity filtering (Wenzek et al. 2020 shape): train a
  * language model on a high-quality TARGET corpus, score every raw
  * document by its per-token cross-entropy under that model, and bucket
  * the corpus into head / middle / tail by perplexity — the standard
  * LLM-pretraining quality gate (keep head+middle, drop tail).
  *
  * Re-expressed Spark-first on the [[Dsir]] machinery: the LM is a
  * hashed unigram+bigram bucket model (B buckets, add-one smoothing) —
  * the same portable md5 feature hash, so the WHOLE trained pipeline is
  * cross-engine oracle-checkable. Fixed-point determinism end to end:
  *
  *  - log p̂[b] is stored as ⌊ln p̂·10⁶+0.5⌋ (64-bit int);
  *  - a doc's total log-prob is an EXACT integer sum (addition-order
  *    independent — same number on any partitioning/engine);
  *  - per-gram cross entropy `ce_fp` = (−total) div n_grams — integer
  *    division of positives, identical truncation on any engine.
  *
  * The head/middle/tail thresholds come from exact tertile ranks of a
  * BOUNDED deterministic sample (md5-ordered — the portable engine-free
  * sampler), matching how CCNet computes its percentile cutoffs offline
  * on a held-out slice. Scoring + bucketing are then pure projections:
  * zero doc-keyed shuffle at any corpus size, stream-capable like
  * [[Dsir.score]].
  *
  * Shape at 100 TB: fit = one tokenize pass over the (much smaller)
  * target + one map-side-combined B-row aggregation; score = one
  * tokenize pass, in-row integer fold against the broadcast λ map;
  * thresholds = one bounded TakeOrderedAndProject over the sample.
  */
object PplFilter {

  /** Fixed-point log-probability per observed bucket + the smoothed
    * zero-count default for buckets the target never produced. */
  case class PplModel(logp: Map[Long, Long], logpDefault: Long, buckets: Int)

  /** TRAIN the target LM: one conditional map-side-combined B-row
    * aggregation over the target docs' gram buckets. */
  def fit(target: DataFrame, buckets: Int = 1024): PplModel =
    fitOnGrams(Dsir.gramBucketArr(target, lit(true), buckets), buckets)

  /** [[fit]] from an existing token-array column — the tokenize-once
    * handoff: the caller carries `clean_toks` from the trim stage and
    * the fit never re-splits text. */
  def fitToks(target: DataFrame, toksCol: Column,
      buckets: Int = 1024): PplModel =
    fitOnGrams(Dsir.gramBucketsFromToks(target, toksCol, lit(true), buckets),
      buckets)

  /** Shared back half of the two fit fronts: `g` is the
    * (doc_id, tgt, bs) gram-bucket frame. */
  private def fitOnGrams(g: DataFrame, buckets: Int): PplModel = {
    val cnt = g.select(explode(col("bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
      .persist()
    try {
      require(!cnt.isEmpty,
        "perplexity-filter target corpus produced no grams — empty or " +
          "all-null-text target")
      val tot = cnt.agg(sum("ct").as("tt"))
      def lpExpr(ct: Column) = floor(
        log((ct + 1.0) / (col("tt") + buckets.toDouble)) * 1e6 + 0.5)
        .cast("long")
      val rows = cnt.crossJoin(broadcast(tot))
        .select(col("b"), lpExpr(col("ct")).as("lp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val lpDefault = tot
        .select(lpExpr(lit(0L)).as("lp")).first().getLong(0)
      PplModel(rows.toMap, lpDefault, buckets)
    } finally { cnt.unpersist(); () }
  }

  /** SCORE: (doc_id, n_grams, ce_fp) for every doc with non-null text —
    * a pure projection (in-row integer fold of log p over the doc's gram
    * buckets; runs unchanged on a streaming frame). `ce_fp` is the
    * per-gram cross-entropy in nats scaled by 10⁶, truncated to int. */
  def score(docs: DataFrame, model: PplModel): DataFrame =
    scoreOnGrams(Dsir.gramBucketArr(docs, lit(false), model.buckets), model)

  /** [[score]] from an existing token-array column (tokenize-once). */
  def scoreToks(docs: DataFrame, toksCol: Column,
      model: PplModel): DataFrame =
    scoreOnGrams(
      Dsir.gramBucketsFromToks(docs, toksCol, lit(false), model.buckets),
      model)

  /** [[fit]] from a PRECOMPUTED gram-bucket frame with a `bs` column
    * (rows = the target corpus; produce `bs` once upstream with
    * [[Dsir.withGramBuckets]]) — zero tokenize/md5 work here. `bs` must
    * have been bucketed with this `buckets` modulus (checked via the
    * [[Dsir.bucketMetaKey]] metadata stamp when present). */
  def fitGrams(g: DataFrame, buckets: Int = 1024): PplModel = {
    Dsir.requireBucketMeta(g, buckets)
    fitOnGrams(g, buckets)
  }

  /** [[score]] from a PRECOMPUTED gram-bucket frame with a `bs` column —
    * the deepest handoff: the md5 gram pass ran at an earlier stage and
    * this is a pure integer fold over the stored array (0.42x the
    * re-split-and-hash wall; BASELINE.md round 11, "Tokenize-once",
    * medians at 2M).
    * `bs` must match `model.buckets` (metadata-stamp checked). */
  def scoreGrams(g: DataFrame, model: PplModel): DataFrame = {
    Dsir.requireBucketMeta(g, model.buckets)
    scoreOnGrams(g, model)
  }

  private def scoreOnGrams(g: DataFrame, model: PplModel): DataFrame = {
    val lp = typedLit(model.logp)
    g.select(col("doc_id"),
        size(col("bs")).cast("long").as("n_grams"),
        aggregate(col("bs"), lit(0L), (acc, b) =>
          acc + coalesce(element_at(lp, b), lit(model.logpDefault)))
          .as("tot_lp"))
      .select(col("doc_id"), col("n_grams"),
        expr("(-tot_lp) div n_grams").as("ce_fp"))
  }

  /** Exact tertile thresholds from a bounded deterministic sample:
    * `sampleN` docs by portable md5 order (salted), thresholds = the
    * `ce_fp` values at ranks ⌈m/3⌉ and ⌈2m/3⌉ of (ce_fp asc, doc_id asc)
    * within the sample. Returns (t1, t2). */
  def sampleThresholds(scored: DataFrame, sampleN: Int = 200,
      salt: String = "pplsamp:"): (Long, Long) = {
    val h = graft.Qutil.md5Long60(
      concat(lit(salt), col("doc_id").cast("string")))
    val samp = scored.select(col("doc_id"), col("ce_fp"), h.as("h"))
      .orderBy(col("h").asc, col("doc_id").asc).limit(sampleN)
      .select("ce_fp", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (ce, id) => (ce, id) }
    require(samp.nonEmpty, "perplexity threshold sample is empty")
    val m = samp.length
    val r1 = math.ceil(m / 3.0).toInt
    val r2 = math.ceil(2 * m / 3.0).toInt
    (samp(r1 - 1)._1, samp(r2 - 1)._1)
  }

  /** Bucket a scored frame by literal thresholds — pure projection.
    * CCNet keeps head+middle (`kept` = bucket != 'tail'). */
  def cut(scored: DataFrame, t1: Long, t2: Long): DataFrame =
    scored.select(col("doc_id"), col("n_grams"), col("ce_fp"),
      when(col("ce_fp") <= t1, "head")
        .when(col("ce_fp") <= t2, "middle")
        .otherwise("tail").as("bucket"),
      (col("ce_fp") <= t2).as("kept"))

  /** The composed batch pipeline: fit on `isTarget` docs, score all
    * docs, tertile-cut by the deterministic sample thresholds. The
    * scored frame is persisted (scoring is the dominant cost, and both
    * the threshold pass and the returned cut consume it) — it stays
    * cached for the consumer, like the fitted-model tables.
    *
    * Returns the cut frame plus a release thunk that unpersists the
    * backing scored cache — call it when done with the result (specs
    * and bench mains that fit repeatedly must, or each fit leaks one
    * n-row cache entry for the session). */
  def filterReleasable(docs: DataFrame, isTarget: Column,
      buckets: Int = 1024, sampleN: Int = 200): (DataFrame, () => Unit) = {
    val model = fit(docs.filter(isTarget), buckets)
    val scored = score(docs, model).persist()
    val (t1, t2) = sampleThresholds(scored, sampleN)
    (cut(scored, t1, t2), () => { scored.unpersist(); () })
  }

  /** [[filterReleasable]] without the handle — for callers that keep the
    * cache for the session (the memoized battery entry). */
  def filter(docs: DataFrame, isTarget: Column, buckets: Int = 1024,
      sampleN: Int = 200): DataFrame =
    filterReleasable(docs, isTarget, buckets, sampleN)._1
}
