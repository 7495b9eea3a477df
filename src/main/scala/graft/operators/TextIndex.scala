package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row,
  SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType,
  StructField, StructType}

/** Persisted inverted index for lexical (BM25) retrieval — the serving
  * counterpart of the from-scratch `bm25_top_docs` pipeline, which
  * re-tokenizes the corpus per query. At 100 TB you tokenize ONCE:
  *
  *  - `build` writes a posting table (term, doc_id, tf, dl) BUCKETED AND
  *    SORTED BY term, a LEXICON table (term, df — the classic dictionary
  *    file, vocabulary-sized, same bucketing), and a 1-row corpus stats
  *    table (N, avgdl). The posting write is a LINEAR plan — scan →
  *    explode → tf aggregation → per-doc window for dl → bucketed write:
  *    one tokenization pass, zero joins (plan-asserted in PlanSpec); the
  *    lexicon and avgdl then derive from the WRITTEN postings (one
  *    aggregation each — index-derived, never a second tokenize).
  *  - `bm25TopDocs` serves queries from the persisted tables alone in at
  *    most three Spark jobs. The bounded probe resolves on the DRIVER:
  *    the (qid, term) pairs are collected and deduped once, and ONE
  *    lookup collect returns the stats epoch rows and the probe terms'
  *    df rows, summed there as exact Longs. The resolved (qid, df)
  *    entries ride into the posting scan as one term-keyed map literal
  *    (no broadcast job), and each posting row is scored in the scan
  *    stage. The probe terms are that scan's `IN` filter: the scan reads
  *    only the files of the buckets the terms hash to, packed into one or
  *    two tasks (a session with `graft.GraftExtensions` reads it
  *    non-bucketed, since nothing under the qid exchange uses the
  *    bucketing), and parquet row-group stats on the sorted term column
  *    prune within those files.
  *    One exchange by qid feeds both the (qid, doc) sum and the top-k
  *    window — the transient pipeline's score and ranking, minus the
  *    corpus-wide aggregations.
  *  - STOPWORD-CLASS pruning (`maxDfFrac`): a Zipf head term's posting
  *    list is O(corpus) to read yet contributes ~zero BM25 mass
  *    (df ≈ N ⇒ idf ≈ 0) — measured at 1M docs, head terms made serve
  *    wall ~O(corpus) (BASELINE.md). Because df now lives in the
  *    lexicon, terms with df > maxDfFrac·N are dropped BEFORE the
  *    posting scan, so their lists are never read. Default 1.0 keeps
  *    every term — bit-identical to the transient pipeline.
  *
  * Score arithmetic is written EXACTLY as `TextQueries.bm25Ranked` (same
  * operation order, 4-dp round-before-rank), and N/avgdl/df derive from
  * exact integer counts — so index-served results hash-match the same
  * DuckDB oracle as the from-scratch path, which is what the
  * `bm25_indexed` battery entry checks.
  *
  * INCREMENTAL maintenance (the lexical twin of the vector side's
  * epoch-handoff serving): [[append]] adds a doc batch as new posting /
  * df / stats EPOCH rows without touching existing files (df and avgdl
  * merge by exact integer sums, so post-append serving is bit-identical
  * to a full rebuild over the union); [[remove]] is a delete vector
  * (bounded (doc_id, dl) rows; serving anti-joins and recounts df from
  * survivors — again bit-identical to a rebuild without those docs);
  * [[compact]] folds both back into a fresh single-epoch layout. The
  * `bm25_incremental` battery entry hash-matches the SAME oracle as the
  * build-once path after an append. An epoch's rows are hash-partitioned
  * by term once before they are written ([[clusterByTerm]]), so each
  * bucket sits in one task: an epoch adds at most ONE file per bucket to
  * each bucketed table (postings, lexicon, positional tables) plus one
  * stats file — 2·numBuckets + 1 files for a BM25 append — whatever the
  * session's shuffle partition count.
  */
object TextIndex {

  /** Corpus constants captured at build time. */
  case class Stats(n: Long, avgdl: Double)

  private def statsTable(prefix: String) = s"${prefix}_stats"
  private def postingsTable(prefix: String) = s"${prefix}_postings"
  private def lexiconTable(prefix: String) = s"${prefix}_lexicon"
  private def deletesTable(prefix: String) = s"${prefix}_deletes"
  private def positionsTable(prefix: String) = s"${prefix}_positions"
  private def positions2Table(prefix: String) = s"${prefix}_positions2"

  /** Drop `table` from the catalog AND delete its default warehouse
    * location — a stale directory from a prior session (not in this
    * session's catalog) makes `saveAsTable` fail with
    * LOCATION_ALREADY_EXISTS even in Overwrite mode. */
  private def clearTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    ()
  }

  /** The posting rows (term, doc_id, tf, dl) as one LINEAR plan: the
    * corpus is scanned and exploded exactly once, and nothing joins.
    * dl (the doc's total token count — the identical integer the
    * transient path counts from the raw token stream) is computed
    * IN-ROW as size(tokens) before the explode and carried through the
    * (doc_id, term) aggregation via max() — OPTIMIZATION r14 (guide
    * §2.4): the first cut summed tf over a doc-partitioned window,
    * which cost a second full exchange of the posting rows by doc_id;
    * size-before-explode is the same integer (Σ tf per doc = token
    * count) with ONE exchange (the groupBy) instead of two. The
    * explode(array(...)) wrapper is the usual materialization barrier:
    * tokenize once, not once per consumer. */
  private[graft] def postingsFor(docs: DataFrame): DataFrame =
    tfRows(tokenRows(docs))

  /** The doc's token array: the whitespace tokenization the postings and
    * the epoch stats row both count. */
  private def tokensOf(text: Column): Column = split(trim(text), "\\s+")

  /** (doc_id, dl, term): one row per token occurrence, dl in-row. */
  private def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array(tokensOf(col("text")))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("term"))

  /** The (doc_id, term) tf aggregation of [[tokenRows]]. */
  private def tfRows(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))

  /** One epoch's (n, ndl, sumdl) stats row as ONE global aggregate over
    * its docs: n counts every doc (a null-text doc never reaches the
    * token stream but still counts toward N), ndl the docs that do, and
    * sumdl their token counts — the dl [[postingsFor]] records, so the
    * row is the exact integers a rebuild derives from the postings. */
  private def epochStats(docs: DataFrame): DataFrame = {
    val text = col("text")
    docs.agg(count(lit(1)).as("n"), count(text).as("ndl"),
      coalesce(sum(when(text.isNotNull, size(tokensOf(text)).cast("long"))),
        lit(0L)).as("sumdl"))
  }

  /** Hash-partition epoch rows by term into the largest divisor of
    * `numBuckets` that is at most the session's shuffle partition count.
    * Spark's bucket id is pmod(murmur3(term), numBuckets), and for n
    * dividing numBuckets pmod(h, n) = pmod(pmod(h, numBuckets), n): each
    * bucket's rows land in exactly one task, so [[appendEpoch]] writes
    * one file per bucket while the task count stays at the session's. */
  private def clusterByTerm(rows: DataFrame, numBuckets: Int): DataFrame = {
    val cap = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val n = (math.min(cap, numBuckets) to 1 by -1).find(numBuckets % _ == 0).get
    rows.repartition(n, col("term"))
  }

  /** Append one epoch's rows to the bucketed table `table`. The rows are
    * [[clusterByTerm]]-partitioned here; rows that already are (a
    * per-term aggregate over a clustered frame) keep their partitioning
    * with no second exchange. */
  private def appendEpoch(rows: DataFrame, table: String,
      numBuckets: Int): Unit =
    clusterByTerm(rows, numBuckets).write.mode(SaveMode.Append)
      .bucketBy(numBuckets, "term").sortBy("term")
      .format("parquet").saveAsTable(table)

  /** Tokenize `docs` (doc_id, text) and persist the posting + lexicon +
    * stats tables under `prefix` (overwrites). Returns the corpus
    * stats. */
  def build(docs: DataFrame, prefix: String, numBuckets: Int = 32): Stats = {
    val spark = docs.sparkSession
    clearTable(spark, postingsTable(prefix))
    clearTable(spark, lexiconTable(prefix))
    clearTable(spark, statsTable(prefix))
    postingsFor(docs).write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "term").sortBy("term")
      .format("parquet").saveAsTable(postingsTable(prefix))
    // the lexicon (term, df) aggregates the WRITTEN postings — one
    // vocabulary-sized pass over the index, never a second tokenize.
    // Same bucketing as the postings so query-term lookups bucket-prune.
    spark.table(postingsTable(prefix))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "term").sortBy("term")
      .format("parquet").saveAsTable(lexiconTable(prefix))
    // n must count ALL docs (a null-text doc never reaches the token
    // stream but still counts toward N, matching the transient path);
    // avgdl derives from the index itself — the write above was the one
    // and only tokenization pass. ndl/sumdl are the MERGEABLE exact-
    // integer forms of avgdl (dl is an integer token count, so epoch
    // sums are exactly representable and Σsumdl/Σndl after appends is
    // the SAME double a full rebuild computes).
    val n = docs.count()
    // clearTable, not a bare DROP: a stale deletes LOCATION from a
    // previous JVM (catalog empty, files present) would fail the next
    // remove()'s saveAsTable with LOCATION_ALREADY_EXISTS
    clearTable(spark, deletesTable(prefix))
    val dld = spark.table(postingsTable(prefix))
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("ndl"), sum("dl").as("sumdl")).first()
    val ndl = dld.getLong(0)
    val sumdl = if (dld.isNullAt(1)) 0L else dld.getLong(1)
    import spark.implicits._
    Seq((n, ndl, sumdl)).toDF("n", "ndl", "sumdl")
      .write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(statsTable(prefix))
    Stats(n, avgdlOf(ndl, sumdl))
  }

  private def avgdlOf(ndl: Long, sumdl: Long): Double =
    if (ndl == 0) 0.0 else sumdl.toDouble / ndl

  /** Exact column sums over raw rows (a null counts 0) — the first
    * `width` columns, each a long. */
  private def sumLongs(rows: Array[Row], width: Int): Array[Long] = {
    val acc = new Array[Long](width)
    rows.foreach { r =>
      for (i <- 0 until width if !r.isNullAt(i)) acc(i) += r.getLong(i)
    }
    acc
  }

  /** What one [[lookup]] read resolves: the corpus stats (epoch rows
    * summed, deletions subtracted), the number of stats epoch rows, the
    * number of deleted docs, and the df of the looked-up terms summed
    * across their epoch rows. */
  private case class Lookup(stats: Stats, epochs: Long, deleted: Long,
      df: Map[String, Long])

  /** ONE driver collect over the union of the small reads serving needs:
    * the stats epoch rows, the delete vector's rows and, when given, the
    * (term, df) rows of the probe terms. Each row is laid out as
    * (a, b, c, kind, term, avgdl):
    *  - kind 0, a stats epoch row: (n, ndl, sumdl); an index persisted
    *    before the mergeable format has one (n, -, -, avgdl) row;
    *  - kind 1, a deleted doc: (1, 1 when it has postings, its dl);
    *  - kind 2, a df row: (df, -, -, term).
    * The longs are summed here as exact integers, so the stats are
    * bit-identical to a rebuild over the surviving docs; `staged` adds
    * the (n, ndl, sumdl) of committed streaming epochs. Scans union
    * into one job; an aggregate inside `dfRows` (df counted from
    * surviving postings) runs its own. */
  private def lookup(statsT: DataFrame, deletes: Option[DataFrame],
      dfRows: Option[DataFrame],
      staged: (Long, Long, Long) = (0L, 0L, 0L)): Lookup = {
    val legacy = !statsT.columns.contains("sumdl")
    val nul = lit(null)
    def rows(kind: Int, a: Column, b: Column, c: Column,
        term: Column = nul, avgdl: Column = nul) =
      Seq(a.cast("long"), b.cast("long"), c.cast("long"), lit(kind),
        term.cast("string"), avgdl.cast("double"))
    val statRows =
      if (legacy) rows(0, col("n"), nul, nul, avgdl = col("avgdl"))
      else rows(0, col("n"), col("ndl"), col("sumdl"))
    val parts = Seq(statsT.select(statRows: _*)) ++
      deletes.map(_.select(
        rows(1, lit(1L), col("dl").isNotNull, col("dl")): _*)) ++
      dfRows.map(_.select(rows(2, col("df"), nul, nul, col("term")): _*))
    val got = parts.reduce(_ union _).collect().groupBy(_.getInt(3))
    def of(kind: Int) = got.getOrElse(kind, Array.empty[Row])
    val Array(n, ndl, sumdl) = sumLongs(of(0), 3)
    val Array(nDel, ndlDel, sumdlDel) = sumLongs(of(1), 3)
    val (sn, sndl, ssumdl) = staged
    val st =
      if (legacy) Stats(of(0).head.getLong(0), of(0).head.getDouble(5))
      else Stats(n - nDel + sn,
        avgdlOf(ndl - ndlDel + sndl, sumdl - sumdlDel + ssumdl))
    Lookup(st, of(0).length.toLong, nDel,
      of(2).groupMapReduce(_.getString(4))(_.getLong(0))(_ + _))
  }

  private def deletesOf(spark: SparkSession, prefix: String): Option[DataFrame] =
    if (deletesExist(spark, prefix)) Some(spark.table(deletesTable(prefix)))
    else None

  /** The stats/delete [[lookup]] of a persisted index, without terms. */
  private def lookupIndex(spark: SparkSession, prefix: String): Lookup =
    lookup(spark.table(statsTable(prefix)), deletesOf(spark, prefix), None)

  /** Load the corpus stats for a persisted index (epoch rows aggregated,
    * deletions subtracted — exact integer arithmetic, so the result is
    * bit-identical to a from-scratch build over the surviving docs). */
  def stats(spark: SparkSession, prefix: String): Stats =
    lookupIndex(spark, prefix).stats

  private def deletesExist(spark: SparkSession, prefix: String): Boolean =
    spark.catalog.tableExists(deletesTable(prefix))

  /** One-row store observability ([[StoreDescription]] contract,
    * VERDICT r10 #7): live/deleted docs, append epochs since the last
    * compaction (stats rows), bytes across ALL the index's tables, the
    * compaction trigger evaluated (any pending deletes, or epoch
    * spread ≥ `epochFactor` — delete-adjusted serving joins grow with
    * both). `growth_since_fit` is None: BM25 has no trained quantizer
    * to outgrow. */
  def describe(spark: SparkSession, prefix: String,
      epochFactor: Long = 8): DataFrame = {
    // one read of the epoch rows and the delete vector gives the stats,
    // the epoch count and the deleted-doc count
    val lk = lookupIndex(spark, prefix)
    val positional = spark.catalog.tableExists(positionsTable(prefix))
    val terms = spark.table(lexiconTable(prefix))
      .select("term").distinct().count()
    val bytes = Seq(statsTable(prefix), postingsTable(prefix),
        lexiconTable(prefix), deletesTable(prefix),
        positionsTable(prefix), positions2Table(prefix))
      .map(StoreDescribe.tableBytes(spark, _)).sum
    StoreDescribe.toDf(spark, StoreDescription(
      store_kind = "text_index",
      location = prefix,
      family = if (positional) "bm25+positional" else "bm25",
      live_rows = lk.stats.n,
      deleted_rows = lk.deleted,
      epochs = lk.epochs,
      bytes_on_disk = bytes,
      growth_since_fit = None,
      needs_compaction = lk.deleted > 0 || lk.epochs >= epochFactor,
      detail = f"avgdl=${lk.stats.avgdl}%.4f terms=$terms"))
  }

  /** The POLICY LOOP over [[describe]]'s trigger (the
    * IncrementalBqIndex.autoCompact shape, uniform across store kinds):
    * compact when deletes are pending or the epoch count has spread
    * past `epochFactor` — both make every serve pay (anti-join /
    * per-epoch stat rows). Returns true when it fired. Serving is
    * bit-identical before/after ([[compact]]'s spec-pinned contract),
    * so the policy can run unattended between ingest batches. */
  def autoCompact(spark: SparkSession, prefix: String,
      numBuckets: Int = 32, epochFactor: Long = 8): Boolean = {
    val lk = lookupIndex(spark, prefix)
    if (lk.deleted > 0 || lk.epochs >= epochFactor) {
      compact(spark, prefix, numBuckets); true
    } else false
  }

  /** Append a NEW batch of docs to a persisted index without touching the
    * existing posting files: the batch's postings and per-term df rows
    * append to the bucketed tables (same bucket spec ⇒ pruning still
    * works; serve-time df sums across epoch rows), and one (n, ndl,
    * sumdl) epoch row appends to the stats table. All three are exact
    * integer merges, so serving after append is BIT-IDENTICAL to a full
    * rebuild over the union — the spec pins that. One epoch is at most
    * one file per bucket in the posting and lexicon tables plus one stats
    * file, in at most 7 Spark jobs (spec-pinned): the tokens' one
    * exchange by term, the persisted delta and its posting write, the
    * lexicon write, the stats aggregate and its write, and the closing
    * stats read. Contract: `newDocs`
    * ids must not already be in the index NOR in the delete vector
    * (replacement = remove + [[compact]] + append: the vector filters
    * by doc_id alone, so re-appending a removed id before compaction
    * would hide the NEW rows too — guarded loudly below). */
  def append(newDocs: DataFrame, prefix: String, numBuckets: Int = 32): Stats = {
    val spark = newDocs.sparkSession
    require(spark.catalog.tableExists(postingsTable(prefix)),
      s"index '$prefix' does not exist — call build first")
    if (deletesExist(spark, prefix)) {
      val clash = newDocs.select(col("doc_id"))
        .join(broadcast(spark.table(deletesTable(prefix)).select("doc_id")),
          Seq("doc_id"), "left_semi").limit(1).count()
      require(clash == 0,
        s"append to '$prefix' includes ids in the delete vector — " +
          "run compact() first (replacement = remove + compact + append)")
    }
    // positional tables, when present, take the same epoch append
    if (spark.catalog.tableExists(positionsTable(prefix)))
      appendPositional(newDocs, prefix, numBuckets)
    // the delta feeds two writes (postings, per-term df): persist it so
    // the batch is tokenized and aggregated once (bounded by the batch,
    // never the index). The term clustering is the ONE exchange: it also
    // satisfies the (doc_id, term) tf aggregation and the lexicon's
    // per-term df over the persisted delta
    val delta = tfRows(clusterByTerm(tokenRows(newDocs), numBuckets)).persist()
    try {
      appendEpoch(delta, postingsTable(prefix), numBuckets)
      // per-term df of THIS batch only — merged by sum at lookup time
      appendEpoch(delta.groupBy("term").agg(count(lit(1)).as("df")),
        lexiconTable(prefix), numBuckets)
      epochStats(newDocs).write.mode(SaveMode.Append)
        .format("parquet").saveAsTable(statsTable(prefix))
    } finally delta.unpersist()
    stats(spark, prefix)
  }

  /** Mark docs deleted without rewriting posting files (the delete-vector
    * pattern): one bounded lookup records each id's dl (null when the doc
    * has no postings — it still counted toward N), and serving
    * anti-joins the postings scan against the broadcast delete set,
    * counting df from the surviving pruned postings — results are
    * bit-identical to a rebuild without those docs. Contract: ids must
    * be distinct, present, and not previously removed. */
  def remove(docIds: DataFrame, prefix: String): Unit = {
    val spark = docIds.sparkSession
    val hasBm25 = spark.catalog.tableExists(postingsTable(prefix))
    require(hasBm25 || spark.catalog.tableExists(positionsTable(prefix)),
      s"index '$prefix' does not exist")
    val ids = docIds.select(col("doc_id").cast("long").as("doc_id"))
    val rows =
      if (hasBm25) {
        require(spark.table(statsTable(prefix)).columns.contains("sumdl"),
          s"index '$prefix' predates the mergeable stats format — rebuild it")
        val dls = spark.table(postingsTable(prefix))
          .select(col("doc_id"), col("dl")).distinct()
        ids.join(dls, Seq("doc_id"), "left")
      } else
        // positional-only index: no dl to record (dl only feeds the
        // BM25 stats adjustment); phrase serving anti-joins by doc_id
        ids.withColumn("dl", lit(null).cast("long"))
    rows.write.mode(SaveMode.Append)
      .format("parquet").saveAsTable(deletesTable(prefix))
    ()
  }

  /** Fold appends + deletes into a fresh single-epoch layout: rewrite the
    * postings minus the delete set (via a temp table — the source can't
    * be overwritten while it is being read), rebuild the lexicon from the
    * compacted postings, consolidate stats to one row, drop the delete
    * vector. Serving before and after compact is bit-identical; compact
    * restores the stopword-cut skip-read (maxDfFrac) that the delete
    * path suspends. Works on positional-only indexes too (no BM25
    * tables): only the positional fold runs and the returned Stats is
    * the zero value (stats are a BM25-side concept). */
  def compact(spark: SparkSession, prefix: String, numBuckets: Int = 32): Stats = {
    val hasBm25 = spark.catalog.tableExists(postingsTable(prefix))
    require(hasBm25 || spark.catalog.tableExists(positionsTable(prefix)),
      s"index '$prefix' does not exist")
    val out = if (hasBm25) {
      val st = stats(spark, prefix) // pre-compute the post-delete stats
      val tmp = s"${prefix}_compact_tmp"
      clearTable(spark, tmp)
      val survivors =
        if (deletesExist(spark, prefix))
          spark.table(postingsTable(prefix)).join(
            broadcast(spark.table(deletesTable(prefix)).select("doc_id")),
            Seq("doc_id"), "left_anti")
        else spark.table(postingsTable(prefix))
      survivors.select("term", "doc_id", "tf", "dl")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(numBuckets, "term").sortBy("term")
        .format("parquet").saveAsTable(tmp)
      clearTable(spark, postingsTable(prefix))
      spark.table(tmp).write.mode(SaveMode.Overwrite)
        .bucketBy(numBuckets, "term").sortBy("term")
        .format("parquet").saveAsTable(postingsTable(prefix))
      clearTable(spark, tmp)
      clearTable(spark, lexiconTable(prefix))
      spark.table(postingsTable(prefix))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(numBuckets, "term").sortBy("term")
        .format("parquet").saveAsTable(lexiconTable(prefix))
      val dld = spark.table(postingsTable(prefix))
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("ndl"), sum("dl").as("sumdl")).first()
      val ndl = dld.getLong(0)
      val sumdl = if (dld.isNullAt(1)) 0L else dld.getLong(1)
      import spark.implicits._
      clearTable(spark, statsTable(prefix))
      Seq((st.n, ndl, sumdl)).toDF("n", "ndl", "sumdl")
        .write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(statsTable(prefix))
      Stats(st.n, avgdlOf(ndl, sumdl))
    } else Stats(0L, 0.0)
    // positional tables, when present, fold the delete vector the same
    // way (phrase serving then needs no anti-join until the next remove)
    if (spark.catalog.tableExists(positionsTable(prefix))) {
      for (tbl <- Seq(positionsTable(prefix), positions2Table(prefix))
           if spark.catalog.tableExists(tbl)) {
        val ptmp = s"${tbl}_compact_tmp"
        clearTable(spark, ptmp)
        val surv =
          if (deletesExist(spark, prefix))
            spark.table(tbl).join(
              broadcast(spark.table(deletesTable(prefix)).select("doc_id")),
              Seq("doc_id"), "left_anti")
          else spark.table(tbl)
        surv.select("term", "doc_id", "pos")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(numBuckets, "term").sortBy("term")
          .format("parquet").saveAsTable(ptmp)
        clearTable(spark, tbl)
        spark.table(ptmp).write.mode(SaveMode.Overwrite)
          .bucketBy(numBuckets, "term").sortBy("term")
          .format("parquet").saveAsTable(tbl)
        clearTable(spark, ptmp)
      }
    }
    spark.sql(s"DROP TABLE IF EXISTS ${deletesTable(prefix)}")
    out
  }

  /** Okapi BM25 top-`topk` docs per query, served from the persisted
    * index. `queryTerms` (qid, term) must be bounded (the probe
    * contract): it is collected once and resolved on the driver — one
    * lookup read returns the corpus stats and the probe terms' df, the
    * `maxDfFrac` cut is applied there, and the SURVIVING terms become
    * the posting scan's bucket/row-group pruning filter, so a
    * stopword-class term's O(corpus) posting list is never read. See
    * [[bm25Serve]] for the plan.
    *
    * `maxDfFrac = 1.0` (default) keeps every term: identical score
    * arithmetic + round-before-rank as `TextQueries.bm25Ranked`, so
    * results hash-match the same oracle. With `maxDfFrac < 1`, terms
    * with df > maxDfFrac·N contribute nothing (their ~zero idf mass is
    * dropped with them); a query whose every term is cut returns no
    * rows. Under deletes, and on indexes persisted before the lexicon
    * existed, df is counted from the surviving pruned postings (correct,
    * but the cut then can't skip the read). The result keeps the
    * probe's `qid` type and nullability. */
  def bm25TopDocs(spark: SparkSession, prefix: String,
      queryTerms: DataFrame, topk: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame = {
    val deletes = deletesOf(spark, prefix)
    bm25Serve(spark.table(statsTable(prefix)), (0L, 0L, 0L),
      spark.table(postingsTable(prefix)),
      if (deletes.isEmpty && spark.catalog.tableExists(lexiconTable(prefix)))
        Some(spark.table(lexiconTable(prefix)))
      else None,
      deletes, queryTerms, topk, k1, b, maxDfFrac)
  }

  /** The serve plan over explicit frames — shared by the table path
    * ([[bm25TopDocs]]) and the table∪streaming-epoch path
    * ([[bm25TopDocsWithEpochs]]). At most three Spark jobs on the
    * lexicon path:
    *  1. the bounded (qid, term) pairs are collected and deduped on the
    *     driver (a local probe costs no job);
    *  2. ONE [[lookup]] collect returns the stats epoch rows and the
    *     probe terms' df rows — the `lexicon` (term, df) rows, one per
    *     epoch, or, when `deletes` is given or there is no lexicon, the
    *     surviving pruned postings counted per term (df must count
    *     survivors), beside the delete vector's rows. The `maxDfFrac`
    *     cut applies to the merged df, so its keep/drop decisions match
    *     a single-epoch rebuild;
    *  3. the resolved (qid, df) entries join the posting rows INSIDE the
    *     scan stage: a term → array<(qid, df)> map literal, looked up
    *     and inlined per posting row (no broadcast job; the lookup scans
    *     the map's keys, which the probe contract keeps few). The scan is
    *     `IN`-filtered to the surviving terms and bucket-pruned: it reads
    *     only the selected buckets' files. Under `graft.GraftExtensions`
    *     it reads them non-bucketed, packed by `maxSplitBytes` into one
    *     or two tasks instead of one task per bucket
    *     ([[graft.plans.DisableUnusedBucketedScan]]); each row is scored
    *     there with the score arithmetic of `TextQueries.bm25Ranked`;
    *  4. the scored rows are hash-partitioned by qid ONCE: that
    *     exchange satisfies both the (qid, doc) sum — rounded to 4 dp
    *     before ranking — and the per-qid top-k window on
    *     (bm25 DESC, doc_id ASC), which needs a query's candidates in
    *     one task anyway.
    * A probe term absent from the index has no df and contributes
    * nothing; no surviving term gives an empty (qid, rnk, doc_id, bm25)
    * frame, which runs no job. */
  private def bm25Serve(statsT: DataFrame, staged: (Long, Long, Long),
      postings: DataFrame, lexicon: Option[DataFrame],
      deletes: Option[DataFrame], queryTerms: DataFrame, topk: Int,
      k1: Double, b: Double, maxDfFrac: Double): DataFrame = {
    require(topk > 0, "topk must be positive")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, "maxDfFrac in (0, 1]")
    val probe = queryTerms.select(col("qid"), col("term"))
    val pairs = probe.collect().map(r => (r.get(0), r.getString(1)))
      .filter(_._2 != null).distinct
    val probeTerms = pairs.map(_._2).distinct.toSeq
    val antiDel = (p: DataFrame) => deletes match {
      case Some(d) => p.join(broadcast(d.select("doc_id")),
        Seq("doc_id"), "left_anti")
      case None => p
    }
    val dfRows = lexicon match {
      case Some(lex) if deletes.isEmpty =>
        lex.filter(col("term").isin(probeTerms: _*)).select("term", "df")
      case _ =>
        antiDel(postings.filter(col("term").isin(probeTerms: _*)))
          .groupBy("term").agg(count(lit(1)).as("df"))
    }
    val lk = lookup(statsT, deletes, Some(dfRows), staged)
    val st = lk.stats
    val df = lk.df.filter { case (_, d) => d <= maxDfFrac * st.n.toDouble }
    // term → the (qid, df) entries of its probe pairs, one literal; the
    // qid field is the probe's own, so the result keeps its type and
    // nullability
    val entries = MapType(StringType, ArrayType(StructType(Seq(
        probe.schema("qid"), StructField("df", LongType, nullable = false))),
        containsNull = false), valueContainsNull = false)
    val byTerm = pairs
      .collect { case (q, t) if df.contains(t) => (t, Row(q, df(t))) }
      .groupMap(_._1)(_._2)
    val probeMap = GraftColumnBridge.column(Literal(
      CatalystTypeConverters.createToCatalystConverter(entries)(byTerm), entries))
    val score = log(lit(1.0) +
        (lit(st.n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) *
      col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / st.avgdl))
    // an empty IN list (no probe term, or no term survives) prunes the
    // plan to an empty relation in the optimizer: it runs no job
    val scored = antiDel(postings.filter(col("term").isin(df.keys.toSeq: _*)))
      .select(col("doc_id"), col("tf"), col("dl"),
        inline(element_at(probeMap, col("term"))))
      .select(col("qid"), col("doc_id"), score.as("score"))
      .repartition(col("qid"))
      .groupBy("qid", "doc_id")
      .agg(graft.Qutil.rnd(sum("score"), 4).as("bm25"))
    val w = Window.partitionBy("qid")
      .orderBy(col("bm25").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topk)
      .select("qid", "rnk", "doc_id", "bm25")
  }

  /** Write the POSITIONAL posting tables for `prefix`: one (term,
    * doc_id, pos) row per token occurrence (pos = 1-based token ordinal
    * within the doc) PLUS the NEXTWORD table — one (bigram, doc_id,
    * pos) row per adjacent token pair — both bucketed and sorted by
    * term so a phrase query's bounded term set prunes whole buckets and
    * row groups exactly as BM25 serving does. Each write is the same
    * LINEAR plan shape as [[build]]: one tokenize pass (posexplode),
    * zero joins. Positions are what [[build]]'s tf rows discard;
    * keeping them costs O(total tokens) rows per table — the standard
    * positional/nextword-index trade — and buys exact phrase queries
    * ([[phraseTopDocs]]). The nextword table is what makes phrase
    * serving fast on Zipf-shaped text (Williams et al., "What's next?
    * Index structures for efficient phrase querying"): a head unigram's
    * posting list is O(corpus), but a phrase's BIGRAM lists are sharply
    * smaller, and serve cost is bounded by the probed lists (measured
    * in BASELINE.md round 8, "Phrase search at scale"). Independent of
    * the BM25 tables: build either or both under one prefix. */
  def buildPositional(docs: DataFrame, prefix: String,
      numBuckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    clearTable(spark, positionsTable(prefix))
    clearTable(spark, positions2Table(prefix))
    tokenPositions(docs)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "term").sortBy("term")
      .format("parquet").saveAsTable(positionsTable(prefix))
    bigramPositions(docs)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "term").sortBy("term")
      .format("parquet").saveAsTable(positions2Table(prefix))
    ()
  }

  /** Epoch-append a NEW doc batch to the positional tables only (for
    * positional-only indexes; [[append]] calls this automatically when
    * the BM25 tables are co-maintained). Positions are doc-absolute, so
    * new-doc rows cannot perturb existing ones: append ≡ rebuild holds
    * for phrase serving exactly as it does for BM25 (spec-pinned).
    * Same contract as [[append]]: ids must be new. */
  def appendPositional(newDocs: DataFrame, prefix: String,
      numBuckets: Int = 32): Unit = {
    val spark = newDocs.sparkSession
    require(spark.catalog.tableExists(positionsTable(prefix)),
      s"positional index '$prefix' does not exist — call buildPositional")
    appendEpoch(tokenPositions(newDocs), positionsTable(prefix), numBuckets)
    // a LEGACY index (built before the nextword table existed) stays in
    // its unigram-only shape: creating positions2 here would hold only
    // this batch's bigrams, and phraseTopDocs would then route every
    // multi-token phrase through a table that misses all earlier docs —
    // silent wrong results. The unigram fallback keeps append ≡ rebuild
    // for the legacy layout; rebuild with buildPositional to upgrade.
    if (spark.catalog.tableExists(positions2Table(prefix)))
      appendEpoch(bigramPositions(newDocs), positions2Table(prefix),
        numBuckets)
    ()
  }

  /** (term, doc_id, pos) rows from a (doc_id, text) frame — the in-flight
    * form of the positional posting table (pos = 1-based token ordinal). */
  private def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("p0", "term")))
      .select(col("term"), col("doc_id"), (col("p0") + 1).as("pos"))

  /** The NEXTWORD table: (bigram, doc_id, pos-of-first-token) rows — one
    * per adjacent token pair. The explode(array(..)) wrapper is the
    * usual materialization barrier: without it CollapseProject inlines
    * the split into every transform-lambda element (O(len²) re-splits
    * per doc). */
  private def bigramPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array(split(trim(col("text")), "\\s+"))).as("t"))
      .select(col("doc_id"), posexplode(expr(
        """CASE WHEN size(t) >= 2
          |  THEN transform(sequence(0, size(t)-2),
          |                 j -> concat(t[j], ' ', t[j+1]))
          |  ELSE array() END""".stripMargin)).as(Seq("p0", "term")))
      .select(col("term"), col("doc_id"), (col("p0") + 1).as("pos"))

  /** Exact phrase search served from the positional index: top-`topk`
    * docs per query by number of phrase occurrences.
    *
    * `phrases` (qid, phrase) must be bounded (the probe contract).
    * Each phrase tokenizes to terms t_0..t_{m-1}; an occurrence at
    * start s means token s+i of the doc equals t_i for every i — the
    * classic positional-intersection: every matching (term, doc, pos)
    * row votes for start = pos - i, and a start with all m votes is a
    * hit. Shapes for scale:
    *  - the positions scan reads ONLY the phrase terms' posting lists
    *    (IN-filter ⇒ bucket + row-group pruning on the sorted term
    *    column) — the rarest term bounds the work, as in any inverted
    *    index;
    *  - one broadcast equi-join (bounded phrase-term side) + two
    *    map-side-combined aggregations; no corpus scan, no cartesian.
    *
    * Occurrences can overlap (phrase "a a" hits "a a a" twice) —
    * counted as such, matching the token-level definition. */
  def phraseTopDocs(spark: SparkSession, prefix: String,
      phrases: DataFrame, topk: Int): DataFrame = {
    // honor the index's delete vector (docs removed via [[remove]] must
    // not surface from ANY serving path, lexical or positional)
    val antiDel = (p: DataFrame) =>
      if (deletesExist(spark, prefix))
        p.join(broadcast(spark.table(deletesTable(prefix))
          .select("doc_id")), Seq("doc_id"), "left_anti")
      else p
    // the probe set is bounded by contract — ONE collect tokenizes it
    // driver-side (same \s+ split as the tables), so constraint frames
    // are local literals, terms need no extra jobs, and statically
    // empty branches dispatch nothing
    val toks: Array[(Long, Array[String])] = phrases
      .select(col("qid").cast("long"), col("phrase")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.split("\\s+").filter(_.nonEmpty)))
    import spark.implicits._
    def constraints(rows: Array[(Long, Int, String)]): DataFrame =
      rows.toSeq.toDF("qid", "i", "term")
    val hasNextword = spark.catalog.tableExists(positions2Table(prefix))
    // multi-token phrases intersect BIGRAM posting lists (far more
    // selective than head unigrams — the nextword-index trade);
    // single-token phrases (and every phrase on a LEGACY index without
    // the nextword table) probe the unigram table
    val biRows =
      if (hasNextword)
        toks.filter(_._2.length >= 2).flatMap { case (q, ts) =>
          ts.indices.init.map(i => (q, i, ts(i) + " " + ts(i + 1)))
        }
      else Array.empty[(Long, Int, String)]
    val uniRows = (if (hasNextword) toks.filter(_._2.length <= 1)
                   else toks)
      .flatMap { case (q, ts) => ts.indices.map(i => (q, i, ts(i))) }
    val parts = Seq(
      (biRows, positions2Table(prefix)),
      (uniRows, positionsTable(prefix))
    ).collect { case (rows, tbl) if rows.nonEmpty =>
      phraseIntersect(antiDel(spark.table(tbl)), constraints(rows),
        rows.map(_._3).distinct, topk)
    }
    if (parts.isEmpty)
      Seq.empty[(Long, Int, Long, Long)].toDF("qid", "rnk", "doc_id", "n_hits")
    else parts.reduce(_ unionByName _)
  }

  /** Index-free phrase search: the same positional-intersection pipeline
    * over an in-flight tokenization of `docs` — O(corpus tokenize) per
    * call, the thing [[buildPositional]] exists to avoid. Bit-identical
    * results (spec + scale bench pin that); useful for one-off queries
    * and as the correctness twin. */
  def phraseTopDocsTransient(docs: DataFrame, phrases: DataFrame,
      topk: Int): DataFrame = {
    val spark = docs.sparkSession
    val rows = phrases.select(col("qid").cast("long"), col("phrase"))
      .collect()
      .flatMap { r =>
        r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
          .zipWithIndex.map { case (t, i) => (r.getLong(0), i, t) }
      }
    import spark.implicits._
    if (rows.isEmpty)
      Seq.empty[(Long, Int, Long, Long)].toDF("qid", "rnk", "doc_id", "n_hits")
    else phraseIntersect(tokenPositions(docs),
      rows.toSeq.toDF("qid", "i", "term"), rows.map(_._3).distinct, topk)
  }

  /** The positional-intersection engine: each (term, doc, pos) row of a
    * probed posting list votes for start = pos − i; a start collecting
    * one vote per constraint is an occurrence. `pt` is the bounded
    * (qid, i, term) constraint frame and `terms` its distinct term set
    * (already driver-resident — the probe contract). */
  private def phraseIntersect(positions: DataFrame, pt: DataFrame,
      terms: Seq[String], topk: Int): DataFrame = {
    require(topk > 0, "topk must be positive")
    val pos = positions.filter(col("term").isin(terms: _*))
    // constraint count per qid — a start needs all m votes
    val mPer = pt.groupBy("qid").agg(count(lit(1)).as("m"))
    val votes = broadcast(pt).join(pos, Seq("term"))
      .select(col("qid"), col("doc_id"), (col("pos") - col("i")).as("start"))
    val occ = votes.groupBy("qid", "doc_id", "start")
      .agg(count(lit(1)).as("nvote"))
      .join(broadcast(mPer), Seq("qid"))
      .filter(col("nvote") === col("m"))
    val perDoc = occ.groupBy("qid", "doc_id").agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy("qid")
      .orderBy(col("n_hits").desc, col("doc_id").asc)
    perDoc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topk)
      .select("qid", "rnk", "doc_id", "n_hits")
  }

  /** Build an EMPTY index (all three tables, mergeable stats) when
    * `prefix` does not exist yet — the bootstrap for streaming ingest. */
  def ensure(spark: SparkSession, prefix: String, numBuckets: Int = 32): Unit =
    if (!spark.catalog.tableExists(postingsTable(prefix))) {
      import spark.implicits._
      build(Seq.empty[(Long, String)].toDF("doc_id", "text"), prefix,
        numBuckets)
      ()
    }

  /** Streaming ingest: every micro-batch of (doc_id, text) rows appends
    * as one index epoch via [[append]] — so a stream-built index serves
    * bit-identically to a batch build over the same docs (spec-pinned),
    * the same stream-built/batch-served contract the vector side's
    * `IncrementalIvfIndex.snapshot` keeps. Each non-empty batch adds
    * one [[append]] epoch — at most one file per bucket per table, plus
    * one stats file — so files still accumulate with the batch count:
    * run [[compact]] on the usual epoch cadence.
    * Caller owns the returned query's lifecycle (and the checkpoint via
    * the usual writeStream options upstream). */
  def streamingAppend(stream: DataFrame, prefix: String,
      numBuckets: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    val serveSession = stream.sparkSession
    ensure(serveSession, prefix, numBuckets)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // append() runs several actions over the batch (postings write,
        // delta lexicon, stats) — persist so each sees the same rows
        // instead of re-pulling the micro-batch source per action
        val b = batch.persist()
        try {
          if (!b.isEmpty) {
            append(b, prefix, numBuckets)
            // foreachBatch runs in a CLONED session whose writes don't
            // invalidate the serving session's relation cache (ensure()
            // cached the postings relation while it was still empty) —
            // refresh there so serves see each epoch immediately
            Seq(postingsTable(prefix), lexiconTable(prefix),
              statsTable(prefix))
              .foreach(serveSession.catalog.refreshTable)
          }
        }
        finally { b.unpersist(); () }
      }
      .start()
  }

  /** CRASH-SAFE idempotent streaming sink (the epoch-directory handoff
    * the vector ([[graft.streaming.IncrementalBqIndex]]) and media
    * ([[ImageDup.streamingHashAppend]]) indexes use, applied to text):
    * each micro-batch OVERWRITES two batch-keyed parquet dirs under
    * `root` — its postings delta at `postings/epoch=b<id>`, then its
    * (n, ndl, sumdl) stats row at `stats/epoch=b<id>`. The stats row is
    * the COMMIT MARKER: it is written last, so a batch killed mid-write
    * leaves postings without stats, serving excludes the epoch, and the
    * checkpointed replay overwrites both dirs — at-least-once replays
    * (including kill-mid-batch) converge to exactly the batch-built
    * index. Serving = [[bm25TopDocsWithEpochs]]; fold staged epochs
    * into the bucketed base tables with [[foldEpochs]] on the
    * compaction cadence. */
  def streamingAppendEpochs(stream: DataFrame, prefix: String, root: String,
      checkpoint: String, numBuckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    ensure(stream.sparkSession, prefix, numBuckets)
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try if (!b.isEmpty) {
          postingsFor(b).write.mode(SaveMode.Overwrite)
            .parquet(s"$root/postings/epoch=b$batchId")
          epochStats(b).write.mode(SaveMode.Overwrite)
            .parquet(s"$root/stats/epoch=b$batchId")
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** COMMITTED staged epochs under `root`: postings rows and summed
    * stats, restricted to epochs whose stats marker exists (a killed
    * batch's marker-less postings are invisible until its replay
    * rewrites them). None when nothing is staged. */
  private def committedEpochs(spark: SparkSession, root: String)
      : Option[(DataFrame, Long, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).exists(p)
    }
    if (!exists(s"$root/postings") || !exists(s"$root/stats")) None
    else {
      // ONE read of the stats markers gives both the committed epoch
      // list and the summed stats
      val rows = spark.read.parquet(s"$root/stats")
        .select(col("n").cast("long"), col("ndl").cast("long"),
          col("sumdl").cast("long"), col("epoch").cast("string"))
        .collect()
      if (rows.isEmpty) None
      else {
        val Array(n, ndl, sumdl) = sumLongs(rows, 3)
        val posts = spark.read.parquet(s"$root/postings")
          .filter(col("epoch").isin(rows.map(_.getString(3)).distinct.toSeq: _*))
          .select("term", "doc_id", "tf", "dl")
        Some((posts, n, ndl, sumdl))
      }
    }
  }

  /** [[bm25TopDocs]] over base tables ∪ committed staged epochs: stats
    * merge by exact integer sums, per-term df by summing the base
    * lexicon with the epoch postings' counts, and the posting scan
    * unions the bucket-pruned base rows with the predicate-pushed epoch
    * rows (epoch dirs are small recent deltas — [[foldEpochs]] returns
    * them to the bucketed layout). Bit-identical to a batch build over
    * the union (spec-pinned). */
  def bm25TopDocsWithEpochs(spark: SparkSession, prefix: String,
      root: String, queryTerms: DataFrame, topk: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFrac: Double = 1.0): DataFrame =
    committedEpochs(spark, root) match {
      case None => bm25TopDocs(spark, prefix, queryTerms, topk, k1, b, maxDfFrac)
      case Some((epPosts, epN, epNdl, epSumdl)) =>
        val statsT = spark.table(statsTable(prefix))
        require(statsT.columns.contains("sumdl"),
          s"index '$prefix' predates the mergeable stats format — rebuild it")
        val postings = spark.table(postingsTable(prefix))
          .select("term", "doc_id", "tf", "dl").unionByName(epPosts)
        val deletes = deletesOf(spark, prefix)
        val lex =
          if (deletes.isEmpty && spark.catalog.tableExists(lexiconTable(prefix)))
            Some(spark.table(lexiconTable(prefix)).select("term", "df")
              .unionByName(
                epPosts.groupBy("term").agg(count(lit(1)).as("df"))))
          else None
        bm25Serve(statsT, (epN, epNdl, epSumdl), postings, lex, deletes,
          queryTerms, topk, k1, b, maxDfFrac)
    }

  /** Fold committed staged epochs into the bucketed base tables (one
    * [[append]]-shape epoch: all staged epochs together add at most one
    * file per bucket per table) and drop the staged dirs. MAINTENANCE
    * op with the [[compact]] posture: run it with the stream STOPPED;
    * like compact's tmp-table dance it is not crash-atomic across its
    * table writes — a JVM death mid-fold calls for a rebuild. */
  def foldEpochs(spark: SparkSession, prefix: String, root: String,
      numBuckets: Int = 32): Stats =
    committedEpochs(spark, root) match {
      case None => stats(spark, prefix)
      case Some((epPosts, epN, epNdl, epSumdl)) =>
        import spark.implicits._
        val posts = clusterByTerm(epPosts, numBuckets).persist()
        try {
          appendEpoch(posts, postingsTable(prefix), numBuckets)
          appendEpoch(posts.groupBy("term").agg(count(lit(1)).as("df")),
            lexiconTable(prefix), numBuckets)
          Seq((epN, epNdl, epSumdl)).toDF("n", "ndl", "sumdl")
            .write.mode(SaveMode.Append)
            .format("parquet").saveAsTable(statsTable(prefix))
        } finally { posts.unpersist(); () }
        val conf = spark.sparkContext.hadoopConfiguration
        Seq(s"$root/postings", s"$root/stats").foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(conf).delete(p, true)
        }
        stats(spark, prefix)
    }

  /** Drop the persisted tables (store CRUD contract). clearTable, not
    * bare DROPs: a prefix orphaned by a previous JVM (files on disk,
    * catalog empty) must leave no stale LOCATION behind. */
  def drop(spark: SparkSession, prefix: String): Unit = {
    Seq(postingsTable(prefix), lexiconTable(prefix), statsTable(prefix),
      deletesTable(prefix), positionsTable(prefix),
      positions2Table(prefix)).foreach(clearTable(spark, _))
  }
}
