package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every raw document by how much it looks like a TARGET corpus
  * under hashed n-gram bag-of-words language models, then keep the
  * top-weighted docs. The published recipe, re-expressed Spark-first:
  *
  *  1. Features: word unigrams + bigrams, hashed into `buckets` counts
  *     (the paper's hashed n-gram generative model). The hash is the
  *     battery's portable md5-derived 60-bit integer (same value in any
  *     engine), so the whole pipeline is cross-engine oracle-checkable.
  *  2. Bucket unigram models with add-one smoothing: p̂[b] over the
  *     target docs, q̂[b] over the raw corpus;
  *     λ[b] = ln p̂[b] − ln q̂[b], stored FIXED-POINT (⌊λ·10⁶+0.5⌋ as a
  *     64-bit int) — the only float step in the pipeline, rounded at a
  *     grain 10 orders above double noise.
  *  3. Per-doc importance weight = Σ_b count_doc[b]·λ_fixed[b] — an
  *     EXACT integer sum, so it is addition-order-independent: the same
  *     number on any partitioning, any engine (the same trick the
  *     n-gram dedup pipeline uses).
  *  4. Selection: top-`n` docs by (weight desc, doc_id) — deterministic
  *     rank instead of the paper's Gumbel resampling, which a seeded
  *     hash could add but the battery keeps reproducible.
  *
  * Shape at 100 TB: one tokenize pass (explode of an in-row gram
  * array), two hash aggregations into a `buckets`-sized model table
  * (broadcastable by construction — B is a constant, default 1024),
  * one broadcast join back, one integer aggregation, and a distributed
  * top-n (TakeOrderedAndProject, no single-partition window). The
  * model-estimation side is O(corpus) with map-side combine; nothing
  * shuffles more than (doc_id, bucket) partial counts.
  */
object Dsir {

  /** Materialization barrier (see TextQueries.mat): keeps CollapseProject
    * from inlining the token-array split into every transform-lambda
    * element, which would re-run the split per token. */
  private def mat(df: DataFrame, c: Column, name: String): DataFrame =
    df.withColumn(name, explode(array(c)))

  /** (doc_id, tgt, bs) — the doc's gram-bucket MULTISET as an in-row
    * array (one element per unigram/bigram occurrence). Keeping the
    * histogram in-row is what removes every doc-keyed shuffle from the
    * pipeline: the model side explodes it straight into a map-side-
    * combined B-row aggregation, and the score side never leaves the
    * row at all. */
  private[operators] def gramBucketArr(docs: DataFrame, isTarget: Column,
      buckets: Int): DataFrame = {
    // null texts carry no signal and would propagate null weights
    val toks = mat(docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), isTarget.as("tgt")),
      split(trim(col("text")), "\\s+"), "toks")
    gramBucketsOfToks(toks, buckets)
  }

  /** [[gramBucketArr]] starting from an EXISTING token-array column —
    * the tokenize-once handoff (VERDICT r10 #3): a curation stage that
    * already split the text (n-gram trim emits `clean_toks`) hands its
    * token arrays forward and the downstream gram/md5 pass never
    * re-tokenizes. The array must be the split(trim(text), '\s+')
    * sequence for results to match the text path bit-for-bit (the
    * NgramDup trim tokenizer is SQL-parity by construction). */
  def gramBucketsFromToks(docs: DataFrame, toksCol: Column,
      isTarget: Column = lit(false), buckets: Int = 1024): DataFrame =
    gramBucketsOfToks(
      mat(docs.filter(toksCol.isNotNull), toksCol, "__gtoks")
        .select(col("doc_id"), isTarget.as("tgt"),
          col("__gtoks").as("toks")),
      buckets)

  private def gramsSql(toksCol: String): String =
    s"""concat($toksCol, CASE WHEN size($toksCol) >= 2
       |  THEN transform(sequence(0, size($toksCol)-2),
       |                 i -> concat($toksCol[i], ' ', $toksCol[i+1]))
       |  ELSE array() END)""".stripMargin

  private def bucketsSql(gramsCol: String, buckets: Int): String =
    s"""transform($gramsCol, g ->
       |  pmod(cast(conv(substring(md5(g),1,15),16,10) as bigint),
       |       ${buckets}L))""".stripMargin

  /** Shared back half: (doc_id, tgt, toks) → (doc_id, tgt, bs). */
  private def gramBucketsOfToks(toks: DataFrame, buckets: Int): DataFrame = {
    val grams = mat(toks, expr(gramsSql("toks")), "grams")
    mat(grams, expr(bucketsSql("grams", buckets)), "bs")
      .select(col("doc_id"), col("tgt"), col("bs"))
  }

  /** Append the gram-bucket array as a COLUMN (all input columns kept) —
    * the deepest tokenize-once handoff: a producing stage materializes
    * `outCol` once alongside its regular output and every later gram
    * consumer ([[score]]-shape folds, [[PplFilter]] fit/score) reads the
    * stored array with ZERO tokenize/md5 work. Measured at 2M docs
    * (BASELINE.md round 11, "Tokenize-once", medians of interleaved
    * rounds): consuming stored buckets scores at 0.42x the
    * re-split-and-hash wall, and the array<long> parquet is SMALLER than
    * the text column it replaces (the bucket ints RLE-compress; 215 MB vs
    * 264 MB). */
  def withGramBuckets(df: DataFrame, toksCol: Column, outCol: String,
      buckets: Int = 1024): DataFrame = {
    val t = mat(df, toksCol, "__gb_toks")
    val g = mat(t, expr(gramsSql("__gb_toks")), "__gb_grams")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(bucketMetaKey, buckets.toLong).build()
    mat(g, expr(bucketsSql("__gb_grams", buckets)), outCol)
      .drop("__gb_toks", "__gb_grams")
      .withColumn(outCol, col(outCol).as(outCol, meta))
  }

  /** Column-metadata key recording the modulus a stored gram-bucket
    * array was hashed with. [[withGramBuckets]] stamps it (it survives
    * projections and parquet round-trips), and the precomputed-`bs`
    * entry points ([[scoreGrams]], [[PplFilter.fitGrams]],
    * [[PplFilter.scoreGrams]]) verify it against the model — a modulus
    * mismatch would otherwise silently route out-of-range buckets to
    * the smoothed default λ/log-p instead of failing. */
  private[operators] val bucketMetaKey = "graft.gram_buckets"

  /** Throws if `bs` carries a [[bucketMetaKey]] stamp that differs from
    * `buckets`; arrays without the stamp (hand-built frames) pass — the
    * invariant is then the caller's documented responsibility. */
  private[operators] def requireBucketMeta(g: DataFrame,
      buckets: Int): Unit = {
    val m = g.schema("bs").metadata
    if (m.contains(bucketMetaKey))
      require(m.getLong(bucketMetaKey) == buckets.toLong,
        s"gram-bucket modulus mismatch: the bs column was bucketed with " +
          s"${m.getLong(bucketMetaKey)} buckets but the model expects " +
          s"$buckets — refit or re-bucket")
  }

  /** A fitted DSIR model: the fixed-point λ log-ratio per observed
    * bucket, plus the smoothed zero-count λ for buckets the fit corpus
    * never produced (only reachable when scoring a DIFFERENT corpus —
    * the deployment shape: fit on a sample, score everything). */
  case class DsirModel(lam: Map[Long, Long], lamDefault: Long, buckets: Int)

  /** TRAIN: both bucket LMs through one conditional map-side-combined
    * B-row aggregation (the only shuffle in the operator), λ collected
    * as fixed-point literals — computed in-engine with the same
    * arithmetic the oracle mirrors. `sample` should contain the target
    * rows (marked by `isTarget`) and a representative raw slice. */
  def fit(sample: DataFrame, isTarget: Column,
      buckets: Int = 1024): DsirModel = {
    val g = gramBucketArr(sample, isTarget, buckets)
    // persist the B-row model table so the corpus aggregation runs ONCE:
    // λ rows, totals, and the zero-count default all derive from it
    val cnt = g.select(col("tgt"), explode(col("bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cq"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
      .persist()
    try {
      val tot = cnt.agg(sum("cq").as("tq"), sum("ct").as("tt"))
      def lamExpr(cq: Column, ct: Column) = floor(
        (log((ct + 1.0) / (col("tt") + buckets.toDouble)) -
         log((cq + 1.0) / (col("tq") + buckets.toDouble))) * 1e6 + 0.5)
        .cast("long")
      val lamRows = cnt.crossJoin(broadcast(tot))
        .select(col("b"), lamExpr(col("cq"), col("ct")).as("lam"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val lamDefault = tot
        .select(lamExpr(lit(0L), lit(0L)).as("lam")).first().getLong(0)
      DsirModel(lamRows.toMap, lamDefault, buckets)
    } finally { cnt.unpersist(); () }
  }

  /** SCORE: a pure projection — per-doc weight is an in-row integer
    * fold of λ over the doc's gram buckets (zero shuffle at any corpus
    * size; runs unchanged on a STREAMING frame). Buckets unseen at fit
    * time take the smoothed zero-count λ. */
  def score(docs: DataFrame, model: DsirModel): DataFrame =
    scoreOnGrams(gramBucketArr(docs, lit(false), model.buckets), model)

  /** [[score]] from a PRECOMPUTED gram-bucket frame with a `bs` column
    * (tokenize-once handoff — produce it upstream with
    * [[withGramBuckets]]): a pure integer fold, zero split/md5 here.
    * `bs` must have been bucketed with `model.buckets` — checked via
    * the [[bucketMetaKey]] column-metadata stamp when present. */
  def scoreGrams(g: DataFrame, model: DsirModel): DataFrame = {
    requireBucketMeta(g, model.buckets)
    scoreOnGrams(g, model)
  }

  private def scoreOnGrams(g: DataFrame, model: DsirModel): DataFrame = {
    val lam = typedLit(model.lam)
    g.select(col("doc_id"),
      size(col("bs")).cast("long").as("n_grams"),
      aggregate(col("bs"), lit(0L), (acc, b) =>
        acc + coalesce(element_at(lam, b), lit(model.lamDefault)))
        .as("dsir_w"))
  }

  /** Per-doc fixed-point importance weights: (doc_id, n_grams, dsir_w)
    * for every doc with non-null text (a whitespace-only text still
    * yields the single empty-string gram and scores by its bucket;
    * null-text docs are dropped). `isTarget` marks the target-corpus
    * rows inside `docs` (boolean column expression over its columns).
    * Fit-then-score over the same frame; for the sample-fit deployment
    * shape call [[fit]]/[[score]] directly. */
  def importanceWeights(docs: DataFrame, isTarget: Column,
      buckets: Int = 1024): DataFrame =
    score(docs, fit(docs, isTarget, buckets))

  /** Top-`n` raw docs by target-likeness: (rnk, doc_id, n_grams,
    * dsir_w), rank by (dsir_w desc, doc_id asc). The top-n is a
    * distributed TakeOrderedAndProject; the rank is assigned over the
    * already-bounded n rows. */
  def select(docs: DataFrame, isTarget: Column, n: Int,
      buckets: Int = 1024): DataFrame = {
    require(n > 0, "n must be positive")
    val top = importanceWeights(docs, isTarget, buckets)
      .orderBy(col("dsir_w").desc, col("doc_id").asc).limit(n)
    val w = Window.orderBy(col("dsir_w").desc, col("doc_id").asc)
    top.withColumn("rnk", row_number().over(w))
      .select("rnk", "doc_id", "n_grams", "dsir_w")
  }
}
