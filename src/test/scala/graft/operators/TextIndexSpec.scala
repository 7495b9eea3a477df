package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  val prefix = "graft_tix_spec"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private lazy val built: TextIndex.Stats =
    TextIndex.build(docs, prefix, numBuckets = 8)

  test("index-served BM25 is bit-identical to the from-scratch pipeline") {
    built
    val queryTerms = spark.table(s"${prefix}_postings")
      .filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("term"))
    val indexed = TextIndex.bm25TopDocs(spark, prefix, queryTerms, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val scratch = graft.TextQueries.bm25Ranked(spark, dir, nq = 20, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(indexed == scratch,
      s"diff: ${(indexed diff scratch).take(3)} / ${(scratch diff indexed).take(3)}")
  }

  /** Does a scan of `table` in `df`'s plan select fewer than `n`
    * buckets? The bucket set prunes files whether the scan reads bucketed
    * or, in a session with graft.GraftExtensions, flat (its bucketing
    * unused), so this reads the scan node, not its `SelectedBucketsCount`
    * string, which only a bucketed scan prints. */
  private def strictBucketSubset(df: DataFrame, table: String,
      n: Int): Boolean =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) =>
        s.optionalBucketSet
    }.exists(_.exists(_.cardinality() < n))

  test("narrow query prunes buckets at the scan") {
    built
    import spark.implicits._
    val term = spark.table(s"${prefix}_postings")
      .select("term").first().getString(0)
    val one = Seq((0L, term)).toDF("qid", "term")
    val served = TextIndex.bm25TopDocs(spark, prefix, one, topk = 10)
    assert(strictBucketSubset(served, s"${prefix}_postings", 8),
      "single-term probe should select a strict bucket subset:\n" +
        served.queryExecution.executedPlan)
  }

  test("bit-identity holds at sf0.01 (the driver gate scale)") {
    val dir01 = "/root/testdata/sf0.01"
    val p01 = "graft_tix_spec01"
    TextIndex.build(spark.read.parquet(s"$dir01/documents.parquet"), p01,
      numBuckets = 8)
    val queryTerms = spark.table(s"${p01}_postings")
      .filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("term"))
    val indexed = TextIndex.bm25TopDocs(spark, p01, queryTerms, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val scratch = graft.TextQueries.bm25Ranked(spark, dir01, nq = 20, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    TextIndex.drop(spark, p01)
    assert(indexed == scratch,
      s"diff: ${(indexed diff scratch).take(3)} / ${(scratch diff indexed).take(3)}")
  }

  test("lexicon df matches the posting lists; maxDfFrac cuts head terms " +
      "BEFORE the posting scan and equals manual stopword removal") {
    built
    import spark.implicits._
    // lexicon df = distinct docs per term (one posting row per (doc, term))
    val fromPostings = spark.table(s"${prefix}_postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val lex = spark.table(s"${prefix}_lexicon")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(lex == fromPostings)

    val st = TextIndex.stats(spark, prefix)
    val frac = 0.2
    val queryTerms = spark.table(s"${prefix}_postings")
      .filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("term")).cache()
    // pruned serve ≡ full serve over a query set with head terms removed
    // by hand — the cut is exactly "drop terms with df > frac·N"
    val lowDfTerms = lex.filter(_._2 <= frac * st.n).keySet
    val manual = TextIndex.bm25TopDocs(spark, prefix,
        queryTerms.filter(col("term").isin(lowDfTerms.toSeq: _*)), topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val pruned = TextIndex.bm25TopDocs(spark, prefix, queryTerms, topk = 10,
        maxDfFrac = frac)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(pruned == manual,
      s"diff: ${(pruned diff manual).take(3)} / ${(manual diff pruned).take(3)}")
    assert(pruned.nonEmpty, "the fixture must keep some content terms")

    // the head terms' posting lists are never read: the posting scan's
    // term membership filter (the lexicon lookup is eager and not part
    // of this plan) strictly shrinks under the cut. OptimizeIn renders
    // the list as In (≤10 terms), InSet (>10), or a bare EqualTo when a
    // single survivor remains — count the widest membership width.
    def termFilterWidth(df: org.apache.spark.sql.DataFrame): Int = {
      import org.apache.spark.sql.catalyst.expressions._
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case i: In => i.list.size
            case s: InSet => s.hset.size
            case EqualTo(a: AttributeReference, _: Literal)
                if a.name == "term" => 1
            case EqualTo(_: Literal, a: AttributeReference)
                if a.name == "term" => 1
          }
      }.flatten.reduceOption(_ max _).getOrElse(-1)
    }
    val full = TextIndex.bm25TopDocs(spark, prefix, queryTerms, topk = 10)
    val prunedDf = TextIndex.bm25TopDocs(spark, prefix, queryTerms, topk = 10,
      maxDfFrac = frac)
    val fullIn = termFilterWidth(full)
    val prunedIn = termFilterWidth(prunedDf)
    assert(prunedIn > 0 && prunedIn < fullIn,
      s"pruned width $prunedIn vs full $fullIn\n" +
        s"pruned plan:\n${prunedDf.queryExecution.optimizedPlan}")

    // a probe whose every term is stopword-class returns no rows
    val headTerms = lex.toSeq.sortBy(-_._2).take(2).map(_._1)
    val allHead = headTerms.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("qid", "term")
    assert(TextIndex.bm25TopDocs(spark, prefix, allHead, topk = 10,
      maxDfFrac = 1e-9).count() == 0)
    queryTerms.unpersist()
  }

  test("a warm single-query serve over a local probe runs at most 3 " +
      "Spark jobs") {
    built
    import spark.implicits._
    val sc = spark.sparkContext
    val terms = spark.table(s"${prefix}_lexicon").select("term")
      .as[String].collect().sorted.take(3)
    val probe = terms.toSeq.map(t => (0L, t)).toDF("qid", "term")
    def query() = TextIndex.bm25TopDocs(spark, prefix, probe, topk = 10)
      .collect()
    assert(query().nonEmpty, "the probe terms come from the lexicon")
    val jobs = org.apache.spark.ListenerBusDrain.jobsDuring(sc)(query())
    // one lookup read (stats and df rows), then one plan: the scan
    // stage scoring each posting row, and the aggregate + window after
    // the one exchange by qid
    info(s"$jobs jobs")
    assert(jobs <= 3, s"$jobs jobs for one warm 3-term query")
  }

  test("probe edge cases: empty probe, absent term, duplicate pairs, " +
      "non-long qid") {
    built
    import spark.implicits._
    val qt = spark.table(s"${prefix}_postings").filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("term")).cache()
    val want = serve(prefix, qt)
    assert(want.nonEmpty)

    val empty = TextIndex.bm25TopDocs(spark, prefix,
      Seq.empty[(Long, String)].toDF("qid", "term"), topk = 10)
    assert(empty.columns.toSeq == Seq("qid", "rnk", "doc_id", "bm25"))
    assert(empty.schema("qid").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(empty.collect().isEmpty)

    // a term the index has never seen contributes nothing
    val absent = Seq((0L, "no-such-term-in-the-index")).toDF("qid", "term")
    assert(serve(prefix, qt.unionByName(absent)) == want)
    assert(serve(prefix, absent).isEmpty)

    // duplicate (qid, term) rows count once
    assert(serve(prefix, qt.unionByName(qt)) == want)

    // a string qid keeps its type, with the same rows
    val strQt = qt.select(col("qid").cast("string").as("qid"), col("term"))
    val strRes = TextIndex.bm25TopDocs(spark, prefix, strQt, topk = 10)
    assert(strRes.schema("qid").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(strRes.collect().map(r => (r.getString(0).toLong, r.getInt(1),
      r.getLong(2), r.getDouble(3))).toSet == want)
    val strEmpty = TextIndex.bm25TopDocs(spark, prefix,
      strQt.filter(lit(false)), topk = 10)
    assert(strEmpty.schema("qid").dataType ==
      org.apache.spark.sql.types.StringType)
    qt.unpersist()
  }

  test("drop removes the persisted tables (store CRUD contract)") {
    TextIndex.drop(spark, prefix)
    assert(!spark.catalog.tableExists(s"${prefix}_postings"))
    assert(!spark.catalog.tableExists(s"${prefix}_lexicon"))
    assert(!spark.catalog.tableExists(s"${prefix}_stats"))
    assert(!spark.catalog.tableExists(s"${prefix}_deletes"))
  }

  private def serve(pre: String, qt: org.apache.spark.sql.DataFrame,
      maxDfFrac: Double = 1.0) =
    TextIndex.bm25TopDocs(spark, pre, qt, topk = 10, maxDfFrac = maxDfFrac)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet

  test("append serves bit-identically to a full rebuild over the union") {
    val inc = "graft_tix_inc"; val full = "graft_tix_incfull"
    TextIndex.drop(spark, inc); TextIndex.drop(spark, full)
    TextIndex.build(docs.filter(col("doc_id") < 250), inc, numBuckets = 8)
    val stInc = TextIndex.append(docs.filter(col("doc_id") >= 250), inc,
      numBuckets = 8)
    val stFull = TextIndex.build(docs, full, numBuckets = 8)
    assert(stInc == stFull, s"merged stats $stInc vs rebuilt $stFull")
    val qt = spark.table(s"${full}_postings").filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"), col("term")).cache()
    qt.count()
    assert(serve(inc, qt) == serve(full, qt))
    // the stopword cut must make the SAME keep/drop decisions on merged df
    assert(serve(inc, qt, maxDfFrac = 0.5) == serve(full, qt, maxDfFrac = 0.5))

    // a cut between the per-epoch df and the merged df: the probe's
    // most frequent term survives against either epoch row alone but is
    // dropped on the merged df, as on the rebuild
    val n = stFull.n
    val fullDf = spark.table(s"${full}_lexicon").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val (head, headDf) = qt.select("term").distinct().collect()
      .map(r => (r.getString(0), fullDf(r.getString(0)))).maxBy(_._2)
    val frac = (headDf - 0.5) / n
    val epochDfs = spark.table(s"${inc}_lexicon")
      .filter(col("term") === head).collect().map(_.getLong(1))
    assert(epochDfs.length == 2 && epochDfs.sum == headDf &&
      epochDfs.forall(_ <= frac * n),
      s"'$head': epoch df ${epochDfs.mkString(",")} vs merged $headDf")
    val cutInc = serve(inc, qt, maxDfFrac = frac)
    assert(cutInc == serve(full, qt, maxDfFrac = frac))
    val kept = fullDf.filter(_._2 <= frac * n).keySet
    assert(cutInc == serve(full, qt.filter(col("term").isin(kept.toSeq: _*))))
    assert(cutInc != serve(inc, qt), "the cut must drop the head term")
    qt.unpersist()
    TextIndex.drop(spark, inc); TextIndex.drop(spark, full)
  }

  test("an epoch of degenerate docs (null, empty, whitespace-only, one " +
      "token) merges and serves like a rebuild over the union") {
    import spark.implicits._
    val inc = "graft_tix_degen"; val full = "graft_tix_degenfull"
    TextIndex.drop(spark, inc); TextIndex.drop(spark, full)
    val base = docs.select("doc_id", "text")
    val tok = base.filter(col("doc_id") === 0).first().getString(1)
      .trim.split("\\s+").head
    val batchTexts = Seq(null, "", "   ", tok)
    val batch = batchTexts.zipWithIndex
      .map { case (t, i) => (900000L + i, t) }.toDF("doc_id", "text")
    TextIndex.build(base, inc, numBuckets = 8)
    val stInc = TextIndex.append(batch, inc, numBuckets = 8)
    val stFull = TextIndex.build(base.unionByName(batch), full, numBuckets = 8)
    // the expected (n, ndl, sumdl), counted here from the texts: every
    // doc counts toward N; a non-null text reaches the token stream with
    // its whitespace-split token count after Spark's trim of spaces (""
    // and "   " as one empty token each)
    def sums(texts: Seq[String]): (Long, Long, Long) = {
      val live = texts.filter(_ != null)
        .map(_.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)
      (texts.size.toLong, live.size.toLong,
        live.map(_.split("\\s+", -1).length.toLong).sum)
    }
    assert(sums(batchTexts) == ((4L, 3L, 3L)))
    val (n, ndl, sumdl) =
      sums(base.select("text").as[String].collect().toSeq ++ batchTexts)
    val want = TextIndex.Stats(n, sumdl.toDouble / ndl)
    assert(stInc == want, s"merged stats $stInc vs counted $want")
    assert(stFull == want, s"rebuilt stats $stFull vs counted $want")
    // the epoch row holds the batch's own sums
    assert(spark.table(s"${inc}_stats").filter(col("n") === 4)
      .select("n", "ndl", "sumdl").as[(Long, Long, Long)].collect().toSeq ==
      Seq(sums(batchTexts)))
    val qt = spark.table(s"${full}_postings")
      .filter(col("doc_id") < 20 || col("doc_id") >= 900000)
      .select(col("doc_id").as("qid"), col("term")).cache()
    val served = serve(inc, qt)
    assert(served == serve(full, qt))
    assert(Seq(900001L, 900002L, 900003L).forall(q => served.exists(_._1 == q)),
      "each non-null degenerate doc must be served for its own terms")
    qt.unpersist()
    TextIndex.drop(spark, inc); TextIndex.drop(spark, full)
  }

  /** The data files of `table`'s warehouse dir. */
  private def dataFiles(table: String): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).toSet
  }

  /** The bucket id of each data file `body` adds to each of `tables`. */
  private def bucketsAdded(tables: Seq[String])(body: => Any)
      : Map[String, Seq[Int]] = {
    val before = tables.map(t => t -> dataFiles(t)).toMap
    body
    val id = "_(\\d+)\\.c\\d+".r
    tables.map { t =>
      t -> (dataFiles(t) -- before(t)).toSeq.map(f =>
        id.findFirstMatchIn(f).map(_.group(1).toInt)
          .getOrElse(fail(s"$t: unbucketed file $f")))
    }.toMap
  }

  test("an epoch adds at most one file per bucket to each bucketed table " +
      "(append, appendPositional, foldEpochs), for any shuffle partition " +
      "count") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val p = "graft_tix_layout"
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def oneFilePerBucket(added: Map[String, Seq[Int]]): Unit =
      added.foreach { case (t, ids) =>
        assert(ids.nonEmpty && ids.size == ids.distinct.size &&
          ids.forall(i => i >= 0 && i < 8),
          s"$t gained files in buckets ${ids.sorted.mkString(",")}")
      }
    // build, buildPositional and compact write through the same
    // bucketed write, so they are held to the same layout
    try for (parts <- Seq("4", "3")) {
      spark.conf.set(key, parts)
      TextIndex.drop(spark, p)
      oneFilePerBucket(bucketsAdded(Seq("postings", "lexicon")
          .map(t => s"${p}_$t")) {
        TextIndex.build(docs.filter(col("doc_id") < 200), p, numBuckets = 8)
      })
      oneFilePerBucket(bucketsAdded(Seq("positions", "positions2")
          .map(t => s"${p}_$t")) {
        TextIndex.buildPositional(docs.filter(col("doc_id") < 200), p,
          numBuckets = 8)
      })
      // append writes the BM25 and the positional epochs
      oneFilePerBucket(bucketsAdded(Seq("postings", "lexicon", "positions",
          "positions2").map(t => s"${p}_$t")) {
        TextIndex.append(docs.filter(col("doc_id").between(200, 349)), p,
          numBuckets = 8)
      })
      oneFilePerBucket(bucketsAdded(Seq("positions", "positions2")
          .map(t => s"${p}_$t")) {
        TextIndex.appendPositional(
          docs.filter(col("doc_id").between(350, 399)), p, numBuckets = 8)
      })
      // docs 350–399 went to the positional tables alone: the BM25
      // tables take every doc from 350 on as two committed streaming
      // epochs, which fold as one epoch
      val tmp = java.nio.file.Files.createTempDirectory("tix-layout").toFile
      try {
        val rest = docs.filter(col("doc_id") >= 350).orderBy("doc_id")
          .select(col("doc_id"), col("text")).as[(Long, String)].collect()
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, String)]
        val q = TextIndex.streamingAppendEpochs(
          mem.toDF().toDF("doc_id", "text"), p, s"$tmp/root", s"$tmp/ckpt",
          numBuckets = 8)
        try rest.grouped(rest.length / 2 + 1).foreach { part =>
          mem.addData(part.toSeq); q.processAllAvailable()
        } finally q.stop()
        oneFilePerBucket(bucketsAdded(Seq("postings", "lexicon")
            .map(t => s"${p}_$t")) {
          TextIndex.foldEpochs(spark, p, s"$tmp/root", numBuckets = 8)
        })
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      assert(TextIndex.stats(spark, p) ==
        TextIndex.build(docs, s"${p}_ref", numBuckets = 8),
        s"stats after the epochs at $parts shuffle partitions")
      TextIndex.drop(spark, s"${p}_ref")
      // compact rewrites all four tables, minus a delete vector
      TextIndex.remove((0L until 10L).toDF("doc_id"), p)
      oneFilePerBucket(bucketsAdded(Seq("postings", "lexicon", "positions",
          "positions2").map(t => s"${p}_$t")) {
        TextIndex.compact(spark, p, numBuckets = 8)
      })
      assert(TextIndex.stats(spark, p).n == docs.count() - 10)
    } finally spark.conf.set(key, saved)
    TextIndex.drop(spark, p)
  }

  test("a warm append runs at most 7 Spark jobs") {
    val p = "graft_tix_appendjobs"
    TextIndex.drop(spark, p)
    TextIndex.build(docs.filter(col("doc_id") < 200), p, numBuckets = 8)
    TextIndex.append(docs.filter(col("doc_id").between(200, 299)), p,
      numBuckets = 8)
    val batch = docs.filter(col("doc_id") >= 300)
    // postings: the term exchange's map stage, the persisted delta, the
    // bucketed write (3); lexicon: one write over the persisted delta,
    // already clustered by term (1); stats row: the global aggregate's
    // map stage and its write (2); the closing stats read (1)
    val jobs = org.apache.spark.ListenerBusDrain.jobsDuring(
      spark.sparkContext)(TextIndex.append(batch, p, numBuckets = 8))
    info(s"$jobs jobs")
    assert(jobs <= 7, s"$jobs jobs for one warm append")
    // a warm build of 200 docs, one writeEpoch epoch: postings: the tf
    // aggregate's map stage, the term exchange's map stage, the persisted
    // rows and the bucketed write (4); lexicon: one write over the
    // persisted rows, already clustered by term (1); stats row: the
    // docs' global aggregate's map stage and its write (2); the closing
    // stats read (1)
    val first = docs.filter(col("doc_id") < 200)
    val buildJobs = org.apache.spark.ListenerBusDrain.jobsDuring(
      spark.sparkContext)(TextIndex.build(first, p, numBuckets = 8))
    info(s"$buildJobs build jobs")
    assert(buildJobs <= 8, s"$buildJobs jobs for one warm build")
    TextIndex.drop(spark, p)
  }

  test("remove (delete vector) serves bit-identically to a rebuild " +
      "without those docs; compact folds and preserves results") {
    val del = "graft_tix_del"; val ref = "graft_tix_delref"
    TextIndex.drop(spark, del); TextIndex.drop(spark, ref)
    TextIndex.build(docs, del, numBuckets = 8)
    import spark.implicits._
    TextIndex.remove((0L until 50L).toDF("doc_id"), del)
    val stRef = TextIndex.build(docs.filter(col("doc_id") >= 50), ref,
      numBuckets = 8)
    assert(TextIndex.stats(spark, del) == stRef)
    val qt = spark.table(s"${ref}_postings")
      .filter(col("doc_id") >= 50 && col("doc_id") < 70)
      .select(col("doc_id").as("qid"), col("term")).cache()
    qt.count()
    val before = serve(del, qt)
    assert(before == serve(ref, qt),
      "delete-vector serving must equal the rebuilt-without index")
    // deleted docs never appear in results
    assert(before.forall(_._3 >= 50))
    val stC = TextIndex.compact(spark, del, numBuckets = 8)
    assert(stC == stRef)
    assert(!spark.catalog.tableExists(s"${del}_deletes"))
    assert(serve(del, qt) == before, "compaction must not change results")
    // the index stays maintainable after compact
    TextIndex.append(docs.filter(col("doc_id") < 50), del, numBuckets = 8)
    assert(TextIndex.stats(spark, del).n == docs.count())
    qt.unpersist()
    TextIndex.drop(spark, del); TextIndex.drop(spark, ref)
  }

  test("phrase search: hand-checked geometry (overlaps, repeated terms, " +
      "ranking, tie-break)") {
    import spark.implicits._
    val p = "graft_tix_phrase"
    TextIndex.drop(spark, p)
    val corpus = Seq(
      (0L, "a a a a"),        // "a a" occurs 3x (overlapping)
      (1L, "a b a b a"),      // "a b a" occurs 2x (overlapping, repeated term)
      (2L, "x a b y a b a"),  // "a b a" occurs 1x; "a b" occurs 2x
      (3L, "b a b"),          // "a b" occurs 1x
      (4L, "zz zz")           // no hits for any query
    ).toDF("doc_id", "text")
    TextIndex.buildPositional(corpus, p, numBuckets = 4)
    val phrases = Seq((10L, "a a"), (11L, "a b a"), (12L, "a b"),
      (13L, "missing phrase")).toDF("qid", "phrase")
    val got = TextIndex.phraseTopDocs(spark, p, phrases, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = Set(
      (10L, 1, 0L, 3L),                 // overlapping occurrences count
      (11L, 1, 1L, 2L), (11L, 2, 2L, 1L),
      (12L, 1, 1L, 2L), (12L, 2, 2L, 2L), (12L, 3, 3L, 1L))
      // doc_id tie-break: docs 1 and 2 both have 2 "a b" hits → 1 first
    assert(got == want, s"got $got")
    TextIndex.drop(spark, p)
  }

  test("phrase search equals a brute-force token-window scan on real docs") {
    val p = "graft_tix_phrase_bf"
    TextIndex.drop(spark, p)
    TextIndex.buildPositional(docs, p, numBuckets = 8)
    // the battery's phrase set: tokens 4..6 of each doc with id < 20
    val phr = docs
      .filter(size(split(trim(col("text")), "\\s+")) >= 6)
      .filter(col("doc_id") < 20)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 4, 3), " ")
          .as("phrase"))
    val got = TextIndex.phraseTopDocs(spark, p, phr, topk = 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    // driver-side brute force over every (query, doc) pair
    val toks = docs.select(col("doc_id"), split(trim(col("text")), "\\s+"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toArray)).toMap
    val want = (for {
      (qid, ph) <- phr.collect().map(r => (r.getLong(0), r.getString(1)))
      pts = ph.split("\\s+")
      (did, ts) <- toks
      n = ts.indices.count(s => s + pts.length <= ts.length &&
        pts.indices.forall(i => ts(s + i) == pts(i)))
      if n > 0
    } yield ((qid, did), n.toLong)).toMap
    assert(got == want,
      s"diff: ${(got.toSet diff want.toSet).take(3)} / " +
        s"${(want.toSet diff got.toSet).take(3)}")
    // every query self-hits at least once by construction
    val qids = phr.collect().map(_.getLong(0))
    assert(qids.forall(q => want.contains((q, q))))
    TextIndex.drop(spark, p)
  }

  test("phrase probe prunes buckets at the positions scan (unigram AND " +
      "nextword paths); drop removes both positional tables") {
    import spark.implicits._
    val p = "graft_tix_phrase_prune"
    TextIndex.drop(spark, p)
    TextIndex.buildPositional(docs, p, numBuckets = 8)
    val term = spark.table(s"${p}_positions").select("term")
      .first().getString(0)
    val uni = TextIndex.phraseTopDocs(spark, p,
        Seq((0L, term)).toDF("qid", "phrase"), topk = 10)
    assert(strictBucketSubset(uni, s"${p}_positions", 8),
      "expected strict bucket-subset pruning on the positions scan:\n" +
        uni.queryExecution.executedPlan)
    val bigram = spark.table(s"${p}_positions2").select("term")
      .first().getString(0)
    val bi = TextIndex.phraseTopDocs(spark, p,
        Seq((0L, bigram)).toDF("qid", "phrase"), topk = 10)
    assert(strictBucketSubset(bi, s"${p}_positions2", 8),
      "expected strict bucket-subset pruning on the nextword scan:\n" +
        bi.queryExecution.executedPlan)
    TextIndex.drop(spark, p)
    assert(!spark.catalog.tableExists(s"${p}_positions"))
    assert(!spark.catalog.tableExists(s"${p}_positions2"))
  }

  test("nextword serving ≡ unigram intersection ≡ transient, including " +
      "single-token and mixed probe sets") {
    import spark.implicits._
    val p = "graft_tix_phrase_nw"
    TextIndex.drop(spark, p)
    TextIndex.buildPositional(docs, p, numBuckets = 8)
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    // mixed probe set: 3-token battery phrases + single tokens + a
    // 2-token phrase
    val multi = docs.filter(size(split(trim(col("text")), "\\s+")) >= 6)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 4, 3), " ")
          .as("phrase"))
    val two = docs.filter(size(split(trim(col("text")), "\\s+")) >= 6)
      .filter(col("doc_id") < 10)
      .select((col("doc_id") + 100).as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 2, 2), " ")
          .as("phrase"))
    val single = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 200).as("qid"),
        element_at(split(trim(col("text")), "\\s+"), 1).as("phrase"))
    val probe = multi.unionByName(two).unionByName(single)
    val served = collectSet(TextIndex.phraseTopDocs(spark, p, probe, 1000))
    val transient = collectSet(
      TextIndex.phraseTopDocsTransient(docs, probe, 1000))
    assert(served == transient,
      s"diff: ${(served diff transient).take(3)} / " +
        s"${(transient diff served).take(3)}")
    assert(served.exists(_._1 >= 200), "single-token probes must resolve")
    assert(served.exists(_._1 < 100), "multi-token probes must resolve")
    TextIndex.drop(spark, p)
  }

  test("positional epochs: append ≡ rebuild for phrase serving; remove " +
      "is honored by the phrase path; compact folds and preserves") {
    import spark.implicits._
    val inc = "graft_tix_posinc"; val full = "graft_tix_posfull"
    TextIndex.drop(spark, inc); TextIndex.drop(spark, full)
    def phrasesOf(d: org.apache.spark.sql.DataFrame) = d
      .filter(size(split(trim(col("text")), "\\s+")) >= 6)
      .filter(col("doc_id") < 15)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 4, 3), " ")
          .as("phrase"))
    def serveP(pre: String, phr: org.apache.spark.sql.DataFrame) =
      TextIndex.phraseTopDocs(spark, pre, phr, topk = 1000)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3))).toSet
    // build half + append half on the BM25+positional pair; compare to
    // a one-shot full build
    TextIndex.build(docs.filter(col("doc_id") < 250), inc, numBuckets = 8)
    TextIndex.buildPositional(docs.filter(col("doc_id") < 250), inc,
      numBuckets = 8)
    TextIndex.append(docs.filter(col("doc_id") >= 250), inc, numBuckets = 8)
    TextIndex.build(docs, full, numBuckets = 8)
    TextIndex.buildPositional(docs, full, numBuckets = 8)
    val phr = phrasesOf(docs).cache(); phr.count()
    assert(serveP(inc, phr) == serveP(full, phr),
      "positional append must serve identically to a full rebuild")
    // remove: deleted docs vanish from phrase results too
    TextIndex.remove((0L until 5L).toDF("doc_id"), inc)
    val afterRm = serveP(inc, phr)
    assert(afterRm.forall(_._3 >= 5), "removed docs surfaced from phrases")
    val ref = "graft_tix_posref"
    TextIndex.drop(spark, ref)
    TextIndex.buildPositional(docs.filter(col("doc_id") >= 5), ref,
      numBuckets = 8)
    assert(afterRm == serveP(ref, phr),
      "delete-vector phrase serving must equal rebuild-without")
    // compact folds the delete vector into the positional tables
    TextIndex.compact(spark, inc, numBuckets = 8)
    assert(!spark.catalog.tableExists(s"${inc}_deletes"))
    assert(serveP(inc, phr) == afterRm,
      "compaction must not change phrase results")
    phr.unpersist()
    TextIndex.drop(spark, inc); TextIndex.drop(spark, full)
    TextIndex.drop(spark, ref)
  }

  test("legacy unigram-only index: append keeps the legacy shape (no " +
      "delta-only nextword table, which would silently lose pre-append " +
      "phrase hits)") {
    val p = "graft_tix_legacy"
    TextIndex.drop(spark, p)
    TextIndex.buildPositional(docs.filter(col("doc_id") < 250), p,
      numBuckets = 8)
    spark.sql(s"DROP TABLE IF EXISTS ${p}_positions2") // the legacy layout
    TextIndex.appendPositional(docs.filter(col("doc_id") >= 250), p,
      numBuckets = 8)
    assert(!spark.catalog.tableExists(s"${p}_positions2"),
      "append must not create a delta-only nextword table on a legacy index")
    val phr = docs.filter(size(split(trim(col("text")), "\\s+")) >= 6)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 4, 3), " ")
          .as("phrase"))
    def coll(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(coll(TextIndex.phraseTopDocs(spark, p, phr, 1000)) ==
      coll(TextIndex.phraseTopDocsTransient(docs, phr, 1000)),
      "legacy unigram fallback must still serve every doc")
    TextIndex.drop(spark, p)
  }

  test("append refuses ids in the delete vector (replacement = remove + " +
      "compact + append); the full workflow then serves the new text") {
    import spark.implicits._
    val p = "graft_tix_replace"
    TextIndex.drop(spark, p)
    TextIndex.build(docs, p, numBuckets = 8)
    TextIndex.remove((0L until 3L).toDF("doc_id"), p)
    val ex = intercept[IllegalArgumentException] {
      TextIndex.append(docs.filter(col("doc_id") < 3), p, numBuckets = 8)
    }
    assert(ex.getMessage.contains("delete vector"))
    // the documented workflow: compact folds the deletion, then append
    TextIndex.compact(spark, p, numBuckets = 8)
    TextIndex.append(docs.filter(col("doc_id") < 3), p, numBuckets = 8)
    val qt = spark.table(s"${p}_postings").filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
    val served = TextIndex.bm25TopDocs(spark, p, qt, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val ref = "graft_tix_replace_ref"
    TextIndex.drop(spark, ref)
    TextIndex.build(docs, ref, numBuckets = 8)
    val want = TextIndex.bm25TopDocs(spark, ref, qt, topk = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served == want,
      "remove + compact + append must serve identically to a rebuild")
    TextIndex.drop(spark, p); TextIndex.drop(spark, ref)
  }

  test("positional-only index: remove and compact work without the BM25 " +
      "tables") {
    import spark.implicits._
    val p = "graft_tix_posonly"
    TextIndex.drop(spark, p)
    TextIndex.buildPositional(docs, p, numBuckets = 8)
    val phr = docs.filter(size(split(trim(col("text")), "\\s+")) >= 6)
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"),
        array_join(slice(split(trim(col("text")), "\\s+"), 4, 3), " ")
          .as("phrase"))
    def coll(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    TextIndex.remove((0L until 5L).toDF("doc_id"), p)
    val afterRm = coll(TextIndex.phraseTopDocs(spark, p, phr, 1000))
    assert(afterRm.nonEmpty && afterRm.forall(_._2 >= 5))
    TextIndex.compact(spark, p, numBuckets = 8)
    assert(!spark.catalog.tableExists(s"${p}_deletes"))
    assert(coll(TextIndex.phraseTopDocs(spark, p, phr, 1000)) == afterRm)
    TextIndex.drop(spark, p)
  }

  test("streaming ingest: micro-batched epochs serve bit-identically to " +
      "a batch build over the same docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val str = "graft_tix_stream"; val ref = "graft_tix_streamref"
    TextIndex.drop(spark, str); TextIndex.drop(spark, ref)
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val tmp = java.nio.file.Files.createTempDirectory("tix-stream").toFile
    val root = s"$tmp/root"
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = TextIndex.streamingAppendEpochs(mem.toDF().toDF("doc_id", "text"),
        str, root, s"$tmp/ckpt", numBuckets = 8)
      try {
        mem.addData(rows.take(200).toSeq)
        q.processAllAvailable()
        mem.addData(rows.drop(200).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val stRef = TextIndex.build(docs, ref, numBuckets = 8)
      val qt = spark.table(s"${ref}_postings").filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("term")).cache()
      qt.count()
      def bits(df: DataFrame) = df.collect().map(r => (r.getLong(0),
        r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
      val want = bits(TextIndex.bm25TopDocs(spark, ref, qt, topk = 10))
      assert(want.nonEmpty)
      assert(bits(TextIndex.bm25TopDocsWithEpochs(spark, str, root, qt,
        topk = 10)) == want,
        "staged epochs must serve identically to the batch build")
      assert(TextIndex.foldEpochs(spark, str, root, numBuckets = 8) == stRef)
      assert(TextIndex.stats(spark, str) == stRef)
      assert(bits(TextIndex.bm25TopDocs(spark, str, qt, topk = 10)) == want,
        "folded epochs must serve identically to the batch build")
      qt.unpersist()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    TextIndex.drop(spark, str); TextIndex.drop(spark, ref)
  }
}
