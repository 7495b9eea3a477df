package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  // def, not lazy val: the extensions test below stops and replaces the
  // active session, so every test re-resolves via getOrCreate
  def spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def df = {
    val s = spark
    import s.implicits._
    Seq(
    (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
    (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
    (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
    (Array(0f, 0f), Array(3f, 4f))).toDF("a", "b")
  }

  test("cosine similarity matches reference semantics (src/similarity.ts:10-12)") {
    val res = df.limit(3).select(similarity.cosine_sim(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(res(0) == 1.0)
    assert(res(1) == 0.0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(res(2) - expected) < 1e-12)
  }

  test("euclidean similarity is 1/(1+d) (src/similarity.ts:14-24)") {
    val r = df.filter(size(col("a")) === 2)
      .select(similarity.euclidean_sim(col("a"), col("b"))).first().getDouble(0)
    assert(math.abs(r - 1.0 / 6.0) < 1e-12)
  }

  test("null propagation and invalid metric") {
    val r = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>)").toDF("a")
      .withColumn("b", typedlit(Array(1f)))
      .select(similarity.cosine_sim(col("a"), col("b"))).first()
    assert(r.isNullAt(0))
    intercept[IllegalArgumentException](similarity.sim("manhattan")(col("a"), col("b")))
  }

  test("register() exposes the kernels to SQL") {
    similarity.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float)))").first().getDouble(0)
    assert(r == 1.0)
    val d = spark.sql(
      "SELECT dot_product(array(cast(2.0 as float)), array(cast(3.0 as float)))")
      .first().getDouble(0)
    assert(d == 6.0)
  }

  test("GraftExtensions injects functions into a fresh session") {
    // getOrCreate reuses an existing session and ignores extensions, so
    // stop the suite session first; this one is stopped and cleared at
    // the end, so later tests and suites re-getOrCreate a plain session
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .appName("ext-test")
      .getOrCreate()
    try {
      val r = s2.sql(
        "SELECT euclidean_sim(array(cast(0.0 as float), cast(0.0 as float)), " +
          "array(cast(3.0 as float), cast(4.0 as float)))").first().getDouble(0)
      assert(math.abs(r - 1.0 / 6.0) < 1e-12)
    } finally {
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("FloorPercentiles aggregator matches the reference floor-index method") {
    val s = spark
    import s.implicits._
    import graft.functions.FloorPercentiles.floor_percentiles
    // 10 values 1..10: p50 → idx floor(0.5*9)=4 → 5.0; p90 → floor(8.1)=8 → 9.0
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val r = df.agg(floor_percentiles(org.apache.spark.sql.functions.col("v"),
      Seq(0.5, 0.9, 0.99))).first().getSeq[Double](0)
    assert(r == Seq(5.0, 9.0, 9.0))
    // single value: every percentile is that value
    val one = Seq(7.5).toDF("v")
      .agg(floor_percentiles(org.apache.spark.sql.functions.col("v"), Seq(0.5, 0.99)))
      .first().getSeq[Double](0)
    assert(one == Seq(7.5, 7.5))
  }

  test("codegen and interpreted paths agree") {
    val big = spark.range(1, 1000).selectExpr( // skip id=0: zero vector ⇒ NaN cosine
      "transform(sequence(1, 16), i -> cast(id * i as float)) as a",
      "transform(sequence(1, 16), i -> cast((id + i) as float)) as b")
    val cg = big.select(similarity.cosine_sim(col("a"), col("b")).as("s"))
      .agg(sum("s")).first().getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = big.select(similarity.cosine_sim(col("a"), col("b")).as("s"))
      .agg(sum("s")).first().getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(cg == interp)
  }

  test("a dimension mismatch throws naming both lengths, in generated " +
      "and interpreted code") {
    // id-dependent vectors, so no optimizer rule folds the kernel away
    val ragged = spark.range(1, 4).selectExpr(
      "transform(sequence(1, 3), i -> cast(id * i as float)) as a",
      "transform(sequence(1, 2), i -> cast(id + i as float)) as b")
    val kernels = Seq[(String, (Column, Column) => Column)](
      "dot_product" -> similarity.dot_product,
      "cosine_similarity" -> similarity.cosine_sim,
      "euclidean_similarity" -> similarity.euclidean_sim)
    // (whole-stage codegen, expression factory mode)
    val paths = Seq(("true", "CODEGEN_ONLY"), ("false", "NO_CODEGEN"))
    try paths.foreach { case (wholeStage, factory) =>
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      kernels.foreach { case (name, f) =>
        val e = intercept[Exception](
          ragged.select(f(col("a"), col("b"))).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).toSeq
        assert(msgs.exists(m => m != null &&
            m.contains(s"$name: dimension mismatch, 3 vs 2")),
          s"$name ($factory): ${msgs.mkString(" | ")}")
        // equal lengths still score
        assert(ragged.select(f(col("a"), col("a"))).collect().length == 3)
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
