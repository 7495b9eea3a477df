package graft.operators

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BM25 serving ([[TextIndex.bm25TopDocs]], [[TextIndex
  * .bm25TopDocsWithEpochs]]) against a reference built here in the
  * earlier serve plan's shape — a local (qid, term, df) relation
  * broadcast-joined to the posting rows, a (qid, doc_id) aggregate, then
  * a row_number window — over every index state serving reads: built,
  * appended, under a delete vector, and with staged epochs. Scores
  * compare by their raw bits, schemas by name, type and nullability.
  *
  * The suite serves in a session with [[graft.GraftExtensions]], as every
  * graft entry point does, so the posting scan reads flat
  * ([[graft.plans.DisableUnusedBucketedScan]]). */
class TextIndexServeSpec extends AnyFunSuite with BeforeAndAfterAll {

  // getOrCreate reuses an existing session and ignores extensions, so
  // stop it first; afterAll stops this one, and later suites
  // re-getOrCreate lazily
  lazy val spark: SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  /** Top-`topk` BM25 over the surviving docs `live` in the earlier plan's
    * shape: N, avgdl and df are exact counts over `live` and its
    * in-flight posting rows. */
  private def reference(live: DataFrame, probe: DataFrame,
      topk: Int): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val postings = TextIndex.postingsFor(live)
    val n = live.count()
    val dl = postings.select("doc_id", "dl").distinct()
      .agg(count(lit(1)), sum("dl")).first()
    val avgdl = if (dl.getLong(0) == 0) 0.0
      else dl.getLong(1).toDouble / dl.getLong(0)
    val pairs = probe.select("qid", "term").collect()
      .map(r => (r.get(0), r.getString(1))).filter(_._2 != null).distinct
    val df = postings.filter(col("term").isin(pairs.map(_._2).distinct.toSeq: _*))
      .groupBy("term").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val resolved = spark.createDataFrame(
      pairs.collect { case (q, t) if df.contains(t) => Row(q, t, df(t)) }
        .toSeq.asJava,
      StructType(Seq(probe.schema("qid"), StructField("term", StringType),
        StructField("df", LongType, nullable = false))))
    val score = log(lit(1.0) +
        (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) *
      col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    val w = Window.partitionBy("qid")
      .orderBy(col("bm25").desc, col("doc_id").asc)
    broadcast(resolved)
      .join(postings.filter(col("term").isin(df.keys.toSeq: _*)), Seq("term"))
      .groupBy("qid", "doc_id")
      .agg(graft.Qutil.rnd(sum(score), 4).as("bm25"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topk)
      .select("qid", "rnk", "doc_id", "bm25")
  }

  private def rows(df: DataFrame) = df.collect().map(r =>
    (r.get(0), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  private def schemaOf(df: DataFrame) =
    df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq

  /** A single-term query tied at its cut, and that cut: the first rank
    * k ≤ 50 whose score equals rank k+1's over `live`. */
  private def tiedAtCut(live: DataFrame): (String, Int) = {
    import spark.implicits._
    val candidates = TextIndex.postingsFor(live).groupBy("term")
      .agg(count(lit(1)).as("df")).filter(col("df").between(12, 60))
      .orderBy("term").select("term").as[String].collect().take(20)
    candidates.iterator.flatMap { t =>
      val scores = reference(live, Seq((0L, t)).toDF("qid", "term"), 1000)
        .orderBy("rnk").collect().map(_.getDouble(3))
      (1 until scores.length.min(50)).find(k => scores(k - 1) == scores(k))
        .map(k => (t, k))
    }.nextOption().getOrElse(fail("no candidate term is tied at a cut"))
  }

  /** Served == reference on three probes over `live`: many queries with
    * long qids past the Int range plus one tied at the cut; the same
    * pairs with string qids and a null qid; a probe with no surviving
    * term. */
  private def check(live: DataFrame,
      serve: (DataFrame, Int) => DataFrame): Unit = {
    import spark.implicits._
    val (tieTerm, k) = tiedAtCut(live)
    val many = TextIndex.postingsFor(live).filter(col("doc_id") < 70)
      .select((col("doc_id") + (1L << 40)).as("qid"), col("term"))
      .unionByName(Seq((7L, tieTerm)).toDF("qid", "term")).cache()
    val strs = many.select(col("qid").cast("string").as("qid"), col("term"))
      .unionByName(Seq((null: String, tieTerm)).toDF("qid", "term"))
    val none = Seq((1L, "no-such-term-in-the-index")).toDF("qid", "term")
    for ((probe, label, hits) <- Seq((many, "long qids", true),
        (strs, "string qids", true), (none, "absent term", false))) {
      val got = serve(probe, k)
      val want = reference(live, probe, k)
      assert(schemaOf(got) == schemaOf(want), s"$label: schema")
      val (g, w) = (rows(got), rows(want))
      assert(g == w, s"$label at k=$k: ${(g diff w).take(3)} / " +
        s"${(w diff g).take(3)}")
      assert(g.nonEmpty == hits, label)
    }
    val tied = rows(serve(Seq((7L, tieTerm)).toDF("qid", "term"), k + 1))
    assert(tied.size == k + 1 && tied.map(_._4).size < tied.size,
      s"'$tieTerm' must tie at rank $k")
    many.unpersist()
    ()
  }

  private lazy val built = {
    val p = "graft_tis_built"
    TextIndex.drop(spark, p)
    TextIndex.build(docs, p, numBuckets = 8)
    p
  }

  private lazy val deleted = {
    import spark.implicits._
    val p = "graft_tis_del"
    TextIndex.drop(spark, p)
    TextIndex.build(docs, p, numBuckets = 8)
    TextIndex.remove((0L until 50L).toDF("doc_id"), p)
    p
  }

  /** Base tables over doc_id < 200, the rest staged as two committed
    * streaming epochs under the returned root. */
  private lazy val staged = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val p = "graft_tis_epochs"
    TextIndex.drop(spark, p)
    TextIndex.build(docs.filter(col("doc_id") < 200), p, numBuckets = 8)
    val tmp = Files.createTempDirectory("tis-epochs").toFile
    tmp.deleteOnExit()
    val rest = docs.filter(col("doc_id") >= 200).orderBy("doc_id")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = TextIndex.streamingAppendEpochs(mem.toDF().toDF("doc_id", "text"),
      p, s"$tmp/root", s"$tmp/ckpt", numBuckets = 8)
    try {
      rest.grouped(rest.length / 2 + 1).foreach { part =>
        mem.addData(part.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    (p, s"$tmp/root", tmp)
  }

  test("built index: served == the broadcast-join reference, bit for bit") {
    check(docs, TextIndex.bm25TopDocs(spark, built, _, _))
  }

  test("3-epoch appended index: served == the reference, bit for bit") {
    val p = "graft_tis_append"
    TextIndex.drop(spark, p)
    TextIndex.build(docs.filter(col("doc_id") < 150), p, numBuckets = 8)
    TextIndex.append(docs.filter(col("doc_id").between(150, 299)), p,
      numBuckets = 8)
    TextIndex.append(docs.filter(col("doc_id") >= 300), p, numBuckets = 8)
    assert(spark.table(s"${p}_stats").count() == 3)
    check(docs, TextIndex.bm25TopDocs(spark, p, _, _))
    TextIndex.drop(spark, p)
  }

  test("delete vector: served == the reference over the survivors") {
    check(docs.filter(col("doc_id") >= 50),
      TextIndex.bm25TopDocs(spark, deleted, _, _))
  }

  test("committed streaming epochs: bm25TopDocsWithEpochs == the " +
      "reference over base ∪ epochs") {
    val (p, root, _) = staged
    check(docs, TextIndex.bm25TopDocsWithEpochs(spark, p, root, _, _))
  }

  /** Spark jobs of one warm 3-term single-query serve. */
  private def warmJobs(serve: DataFrame => DataFrame, terms: Seq[String]): Int = {
    import spark.implicits._
    val probe = terms.map(t => (0L, t)).toDF("qid", "term")
    assert(serve(probe).collect().nonEmpty, "the probe terms are indexed")
    val jobs = org.apache.spark.ListenerBusDrain
      .jobsDuring(spark.sparkContext)(serve(probe).collect())
    info(s"$jobs jobs")
    jobs
  }

  private def threeTerms(p: String) = {
    import spark.implicits._
    spark.table(s"${p}_postings").filter(col("doc_id") >= 50)
      .select("term").distinct().as[String].collect().sorted.take(3).toSeq
  }

  test("a warm serve under a delete vector runs no more jobs than the " +
      "broadcast-join plan's 9") {
    val jobs = warmJobs(TextIndex.bm25TopDocs(spark, deleted, _, 10),
      threeTerms(deleted))
    assert(jobs <= 9, s"$jobs jobs for one warm 3-term query")
  }

  test("a warm 3-term serve over a 32-bucket index runs 4 tasks") {
    import spark.implicits._
    val p = "graft_tis_b32"
    TextIndex.drop(spark, p)
    TextIndex.build(docs, p, numBuckets = 32)
    val terms = spark.table(s"${p}_lexicon").select("term").as[String]
      .collect().sorted.take(3).toSeq
    val probe = terms.map(t => (0L, t)).toDF("qid", "term")
    def query() = TextIndex.bm25TopDocs(spark, p, probe, 10).collect()
    assert(query().nonEmpty, "the probe terms come from the lexicon")
    val tasks = org.apache.spark.ListenerBusDrain
      .tasksDuring(spark.sparkContext)(query())
    // the lookup collect reads the stats and the lexicon files, one task
    // each; the posting scan reads the 3 selected buckets' files in one
    // task (a bucketed scan ran one task per bucket: 32); the aggregate
    // and window after the qid exchange run in one coalesced task
    info(s"$tasks tasks")
    assert(tasks == 4, s"$tasks tasks for one warm 3-term query")
    TextIndex.drop(spark, p)
  }

  test("a warm bm25TopDocsWithEpochs serve runs no more jobs than the " +
      "broadcast-join plan's 10") {
    val (p, root, tmp) = staged
    val jobs = warmJobs(
      TextIndex.bm25TopDocsWithEpochs(spark, p, root, _, 10), threeTerms(p))
    assert(jobs <= 10, s"$jobs jobs for one warm 3-term query")
    Seq(built, deleted, p).foreach(TextIndex.drop(spark, _))
    FileUtils.deleteDirectory(tmp)
  }
}
