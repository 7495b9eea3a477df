package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IncrementalBqIndex

/** The one-row observability contract (VERDICT r10 #7): every persisted
  * store's describe() reports live/deleted rows, epochs, bytes and its
  * own compaction trigger — and the row TRACKS the lifecycle (append
  * grows epochs, remove grows the delete vector, compact folds both
  * back). */
class StoreDescribeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
  def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")

  private def row(df: DataFrame): Row = {
    val rs = df.collect()
    assert(rs.length == 1, s"describe() must be ONE row, got ${rs.length}")
    rs(0)
  }

  test("incremental BQ store: epochs/deletes/growth track the " +
      "lifecycle; compact folds them back") {
    val path = java.nio.file.Files
      .createTempDirectory("descbq").toString + "/idx"
    val half = emb.filter(col("vec_id") % 2 === 0)
    IncrementalBqIndex.build(half, path, numCells = 4)
    val n0 = half.count()
    val r0 = row(IncrementalBqIndex.describe(spark, path))
    assert(r0.getAs[String]("store_kind") == "incremental_bq")
    assert(r0.getAs[String]("family") == "bq")
    assert(r0.getAs[Long]("live_rows") == n0)
    assert(r0.getAs[Long]("deleted_rows") == 0L)
    assert(r0.getAs[Long]("epochs") == 1L)
    assert(r0.getAs[Long]("bytes_on_disk") > 0L)
    assert(math.abs(r0.getAs[Double]("growth_since_fit") - 1.0) < 1e-9)
    assert(!r0.getAs[Boolean]("needs_compaction"))
    assert(r0.getAs[String]("detail").contains("cells=4"))

    IncrementalBqIndex.append(emb.filter(col("vec_id") % 2 === 1), path)
    IncrementalBqIndex.remove(
      emb.filter(col("vec_id") < 4).select("vec_id"), path)
    val deleted = emb.filter(col("vec_id") < 4).count()
    val r1 = row(IncrementalBqIndex.describe(spark, path))
    assert(r1.getAs[Long]("live_rows") == emb.count() - deleted)
    assert(r1.getAs[Long]("deleted_rows") == deleted)
    assert(r1.getAs[Long]("epochs") == 2L)
    // ~2x growth past the fit corpus → the trigger fires
    assert(r1.getAs[Boolean]("needs_compaction")
      == (r1.getAs[Double]("growth_since_fit") >= 2.0))

    IncrementalBqIndex.compact(spark, path)
    val r2 = row(IncrementalBqIndex.describe(spark, path))
    assert(r2.getAs[Long]("epochs") == 1L)
    assert(r2.getAs[Long]("deleted_rows") == 0L)
    assert(r2.getAs[Long]("live_rows") == emb.count() - deleted)
  }

  test("text index store: epochs are append generations, deletes " +
      "pending, bytes span all tables") {
    val p = "graft_descspec_tix"
    TextIndex.drop(spark, p)
    TextIndex.build(docs.filter(col("doc_id") < 30), p, numBuckets = 4)
    TextIndex.append(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 50), p,
      numBuckets = 4)
    TextIndex.remove(docs.filter(col("doc_id") < 2).select("doc_id"), p)
    val r = row(TextIndex.describe(spark, p))
    assert(r.getAs[String]("store_kind") == "text_index")
    assert(r.getAs[Long]("live_rows") == 48L)
    assert(r.getAs[Long]("deleted_rows") == 2L)
    assert(r.getAs[Long]("epochs") == 2L)
    assert(r.getAs[Long]("bytes_on_disk") > 0L)
    assert(r.isNullAt(r.fieldIndex("growth_since_fit")))
    assert(r.getAs[Boolean]("needs_compaction")) // pending deletes
    assert(r.getAs[String]("detail").contains("terms="))
    // the policy loop acts on the same trigger: fires once, folds the
    // pending deletes + epochs, then goes quiet
    assert(TextIndex.autoCompact(spark, p, numBuckets = 4))
    val rc = row(TextIndex.describe(spark, p))
    assert(rc.getAs[Long]("live_rows") == 48L)
    assert(rc.getAs[Long]("deleted_rows") == 0L)
    assert(rc.getAs[Long]("epochs") == 1L)
    assert(!rc.getAs[Boolean]("needs_compaction"))
    assert(!TextIndex.autoCompact(spark, p, numBuckets = 4),
      "policy must be a no-op when the trigger is quiet")
    TextIndex.drop(spark, p)
  }

  test("image-hash store: batch hashAppend epochs + deletes tracked; " +
      "compact folds; schemas union across kinds") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("descimg").toString
    def img(id: Long): (Long, Array[Byte]) =
      (id, Multimodal.encodeGray(
        Array.tabulate(64)(i => ((i * 7 + id) % 256).toInt), 8, 8))
    val a = (0L until 6L).map(img).toDF("media_id", "content")
    val b = (6L until 10L).map(img).toDF("media_id", "content")
    ImageDup.hashAppend(a, path, epochTag = "0")
    ImageDup.hashAppend(b, path, epochTag = "1")
    ImageDup.remove(Seq(0L, 1L).toDF("media_id"), path)
    val r = row(ImageDup.describe(spark, path))
    assert(r.getAs[String]("store_kind") == "image_dup")
    // distinct media ids — the same unit the other store kinds report
    // (the 4-band fan-out is a layout detail, stated in `detail`)
    assert(r.getAs[Long]("live_rows") == 8L)
    assert(r.getAs[Long]("deleted_rows") == 2L)
    assert(r.getAs[Long]("epochs") == 2L)
    assert(r.getAs[Boolean]("needs_compaction"))
    // the policy loop folds on the same trigger, then goes quiet
    assert(ImageDup.autoCompact(spark, path))
    val r2 = row(ImageDup.describe(spark, path))
    assert(r2.getAs[Long]("epochs") == 1L)
    assert(r2.getAs[Long]("deleted_rows") == 0L)
    assert(r2.getAs[Long]("live_rows") == 8L)
    assert(!r2.getAs[Boolean]("needs_compaction"))
    assert(!ImageDup.autoCompact(spark, path))
    // the fleet-dashboard contract: one schema across store kinds —
    // including the rabitq code family, whose describe row must carry
    // the family and the rotation seed the layout rebuilds from
    val bqPath = java.nio.file.Files
      .createTempDirectory("descbq2").toString + "/idx"
    IncrementalBqIndex.build(emb, bqPath, numCells = 4, family = "rabitq")
    val rq = row(IncrementalBqIndex.describe(spark, bqPath))
    assert(rq.getAs[String]("family") == "rabitq")
    assert(rq.getAs[String]("detail").contains("rot_seed=")
      && rq.getAs[String]("detail").contains("residual=true"))
    val union = IncrementalBqIndex.describe(spark, bqPath)
      .unionByName(ImageDup.describe(spark, path))
    assert(union.count() == 2L)
  }

  test("a warm describe runs a bounded number of Spark jobs per store " +
      "kind (BQ, text, image)") {
    import spark.implicits._
    val bqPath = java.nio.file.Files
      .createTempDirectory("descjobs").toString + "/idx"
    IncrementalBqIndex.build(emb, bqPath, numCells = 4)
    val tix = "graft_descspec_jobs"
    TextIndex.drop(spark, tix)
    TextIndex.build(docs.filter(col("doc_id") < 30), tix, numBuckets = 4)
    val imgPath = java.nio.file.Files
      .createTempDirectory("descjobsimg").toString
    val imgs = (0L until 6L).map(id => (id, Multimodal.encodeGray(
      Array.tabulate(64)(i => ((i * 7 + id) % 256).toInt), 8, 8)))
      .toDF("media_id", "content")
    ImageDup.hashAppend(imgs, imgPath, epochTag = "0")
    def warmJobs(describe: => DataFrame): Int = {
      row(describe)
      org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(
        row(describe))
    }
    val jobs = Seq(
      "incremental_bq" -> warmJobs(IncrementalBqIndex.describe(spark, bqPath)),
      "text_index" -> warmJobs(TextIndex.describe(spark, tix)),
      "image_dup" -> warmJobs(ImageDup.describe(spark, imgPath)))
    info(jobs.map { case (k, j) => s"$k $j" }.mkString(", ") + " jobs")
    // measured: BQ 10, text 6, image 4
    val bound = Map("incremental_bq" -> 10, "text_index" -> 6,
      "image_dup" -> 4)
    jobs.foreach { case (k, j) =>
      assert(j <= bound(k), s"$k: $j jobs for one warm describe")
    }
    TextIndex.drop(spark, tix)
  }
}
