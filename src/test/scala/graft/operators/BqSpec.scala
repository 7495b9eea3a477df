package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BqSpec extends AnyFunSuite {

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

  lazy val model: Bq.Model = Bq.fit(emb)

  test("packing: 1 bit/dim into longs, bit j set iff v_j > midrange_j") {
    val d = model.thresholds.length
    assert(d == 64)
    val orig = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val enc = model.encoded.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(enc.values.forall(_.length == (d + 63) / 64),
      "codes must be ceil(d/64) longs per vector (32x smaller than float32)")
    // every bit of every vector agrees with the unpacked predicate
    orig.foreach { case (id, v) =>
      val bits = enc(id)
      (0 until d).foreach { j =>
        val expected = v(j).toDouble > model.thresholds(j)
        val got = ((bits(j >> 6) >>> (j & 63)) & 1L) == 1L
        assert(got == expected, s"bit $j of vec $id")
      }
    }
  }

  test("hamming kernel equals per-dimension disagreement count") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val d = 1 + rnd.nextInt(200)
      val a = Array.fill(d)(rnd.nextFloat() - 0.5f)
      val b = Array.fill(d)(rnd.nextFloat() - 0.5f)
      val thr = Array.fill(d)((rnd.nextDouble() - 0.5) * 0.2)
      val naive = (0 until d).count(j =>
        (a(j).toDouble > thr(j)) != (b(j).toDouble > thr(j)))
      assert(Bq.hamming(Bq.packBits(a, thr), Bq.packBits(b, thr)) == naive)
    }
  }

  test("knnJoin matches an in-memory brute-force recompute of the same " +
      "(hamming, id) candidate cut + cosine rerank") {
    def check(in: DataFrame, m: Bq.Model, k: Int, rerank: Int): Unit = {
      val qs = in.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val got = Bq.knnJoin(m, in, qs, k = k, rerank = rerank, scoreDigits = 6)
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

      val vecs = in.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val codes = vecs.map { case (id, v) =>
        id -> Bq.packBits(v, m.thresholds) }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < a.length) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val want = (0L until 20L).flatMap { qid =>
        val qb = codes(qid)
        val cands = codes.toSeq
          .map { case (id, bits) => (Bq.hamming(qb, bits), id) }
          .sorted.take(rerank).map(_._2)
        cands
          .map { id =>
            val s = math.floor(cos(vecs(qid), vecs(id)) * 1e6 + 0.5) / 1e6
            (s, id)
          }
          .sortBy { case (s, id) => (-s, id) }
          .take(k).zipWithIndex
          .map { case ((_, id), i) => (qid, id, i + 1) }
      }.toSet
      assert(got == want)
    }
    check(emb, model, k = 5, rerank = 30)
    // every vector 4 times, ids falling as rows arrive: k = rerank = 6
    // shows the candidate set, and its cut falls inside a tie
    val dup = TieInputs.duplicated(emb)
    val dm = Bq.fit(dup)
    check(dup, dm, k = 6, rerank = 6)
    dm.encoded.unpersist()
  }

  test("rerank restores ranking fidelity: recall@10 above code-only") {
    import graft.operators.{KnnJoin, Recall}
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine")
    def rec(rerank: Int): Double =
      Recall.microAvgRecall(
        Bq.knnJoin(model, emb, probes, k = 10, rerank = rerank), exact)
        .select("recall").first().getDouble(0)
    // rerank=10 keeps exactly the hamming top-10 — the code-only candidate
    // set (reranking inside it cannot change set membership) — so the gap
    // to rerank=100 is precisely what the exact-rerank stage buys back
    val codeOnly = rec(10)
    val reranked = rec(100)
    assert(reranked >= 0.7, s"bq recall@10 = $reranked")
    assert(reranked > codeOnly + 0.1,
      s"rerank must recover recall: code-only $codeOnly vs reranked $reranked")
  }

  test("batched probes ≡ whole probe set; save/load round-trips") {
    val whole = Bq.knnJoin(model, emb, probes, k = 5, rerank = 50)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val batched = ProbeBatch.batched(probes, 7, "query_id")(
        Bq.knnJoin(model, emb, _, k = 5, rerank = 50))
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(batched == whole)

    val tmp = java.nio.file.Files.createTempDirectory("bq").toString
    Bq.save(model, tmp)
    val loaded = Bq.load(spark, tmp).get
    assert(loaded.thresholds.toSeq == model.thresholds.toSeq)
    val after = Bq.knnJoin(loaded, emb, probes, k = 5, rerank = 50)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(after == whole)
    assert(Bq.load(spark, s"$tmp/nope").isEmpty)
  }
}
