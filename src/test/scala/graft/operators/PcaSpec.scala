package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PcaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
  def probes: DataFrame = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  lazy val model: Pca.Model = Pca.fit(emb, p = 16, sampleN = 400)

  test("trained components are orthonormal and eigenvalues descend") {
    val d = model.d; val p = model.p
    assert(d == 64 && p == 16)
    for (j <- 0 until p; l <- j until p) {
      var s = 0.0
      var i = 0
      while (i < d) { s += model.weights(i)(j) * model.weights(i)(l); i += 1 }
      val want = if (j == l) 1.0 else 0.0
      assert(math.abs(s - want) < 1e-9, s"W^T W ($j,$l) = $s")
    }
    model.eigenvalues.sliding(2).foreach { w =>
      assert(w(0) >= w(1) - 1e-12)
    }
    assert(model.eigenvalues.forall(_ >= -1e-12))
  }

  test("projected corpus table matches a driver-side recompute of the " +
      "projection loop") {
    val got = model.projected.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(got.keySet == vecs.keySet)
    vecs.foreach { case (id, v) =>
      val want = Pca.project(model.mean, model.weights, v)
      assert(got(id).sameElements(want), s"projection mismatch at id=$id")
    }
  }

  test("fit is invariant to input partitioning") {
    val m2 = Pca.fit(emb.repartition(7), p = 16, sampleN = 400)
    assert(m2.mean.sameElements(model.mean))
    assert((0 until 64).forall(i =>
      m2.weights(i).sameElements(model.weights(i))))
  }

  test("knnJoin matches an in-memory recompute of the projected-candidate " +
      "cut + full rerank") {
    val got = Pca.knnJoin(model, emb, probes, k = 5, rerank = 30,
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val proj = vecs.map { case (id, v) =>
      id -> Pca.project(model.mean, model.weights, v) }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        // widen BEFORE multiplying — the engine kernel computes in double
        val xi = a(i).toDouble; val yi = b(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val want = (0L until 20L).flatMap { qid =>
      val qp = proj(qid)
      val cands = proj.toSeq
        .map { case (id, pv) => (-r6(cos(qp, pv)), id) }
        .sorted.take(30).map(_._2)
      val q = vecs(qid)
      cands.map { id => (-r6(cos(q, vecs(id))), id) }
        .sorted.take(5).zipWithIndex
        .map { case ((_, id), i) => (qid, id, i + 1) }
    }.toSet
    assert(got == want)
  }

  test("rerank = corpus size reproduces exact cosine top-k regardless of " +
      "the projected candidate order") {
    val n = emb.count().toInt
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine",
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val full = Pca.knnJoin(model, emb, probes, k = 10, rerank = n,
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(full == exact)
  }

  test("batched knnJoin equals the whole-set call") {
    val whole = Pca.knnJoin(model, emb, probes, k = 5, rerank = 30,
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val batched = ProbeBatch.batched(probes, 7, "query_id")(
        Pca.knnJoin(model, emb, _, k = 5, rerank = 30, scoreDigits = 6))
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(batched == whole)
  }

  test("save/load round-trip: params bit-equal, loaded model serves " +
      "identical results; load-missing is None") {
    val tmp = java.nio.file.Files.createTempDirectory("pcastore").toString
    Pca.save(model, s"$tmp/m")
    val loaded = Pca.load(spark, s"$tmp/m").get
    assert(loaded.mean.sameElements(model.mean))
    assert((0 until model.d).forall(i =>
      loaded.weights(i).sameElements(model.weights(i))))
    assert(loaded.eigenvalues.sameElements(model.eigenvalues))
    val a = Pca.knnJoin(model, emb, probes, k = 5, rerank = 30,
      scoreDigits = 6).collect().map(_.toSeq).toSet
    val b = Pca.knnJoin(loaded, emb, probes, k = 5, rerank = 30,
      scoreDigits = 6).collect().map(_.toSeq).toSet
    assert(a == b)
    assert(Pca.load(spark, s"$tmp/absent").isEmpty)
    Pca.delete(spark, s"$tmp/m")
    assert(Pca.load(spark, s"$tmp/m").isEmpty)
  }

  test("16-dim projected recall beats a 16-dim naive prefix at equal " +
      "rerank when variance is spread across dims") {
    // On the battery embeddings the learned subspace should do at least
    // as well as the raw prefix (it maximizes retained variance).
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine",
      scoreDigits = 6)
    val pcaR = Recall.microAvgRecall(
      Pca.knnJoin(model, emb, probes, k = 10, rerank = 50, scoreDigits = 6),
      exact).select("recall").first().getDouble(0)
    val mrlR = Recall.microAvgRecall(
      Mrl.knnJoinTruncated(emb, probes, k = 10, prefixDims = 16, rerank = 50,
        scoreDigits = 6),
      exact).select("recall").first().getDouble(0)
    assert(pcaR >= mrlR - 0.05, s"pca=$pcaR mrl=$mrlR")
    assert(pcaR >= 0.5, s"pca recall unexpectedly low: $pcaR")
  }
}
