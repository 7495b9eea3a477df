package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RabitQSpec extends AnyFunSuite {

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

  lazy val model: RabitQ.Model = RabitQ.fit(emb, seed = 42L)

  test("rotation is orthonormal, deterministic, and diag-sign-fixed") {
    val d = 32
    val r1 = RabitQ.randomRotation(d, 7L)
    val r2 = RabitQ.randomRotation(d, 7L)
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq, "same seed => same rotation")
    val r3 = RabitQ.randomRotation(d, 8L)
    assert(r1.map(_.toSeq).toSeq != r3.map(_.toSeq).toSeq, "different seed differs")
    // RtR ~= I (columns orthonormal in double before float truncation)
    for (a <- 0 until d; b <- 0 until d) {
      var dot = 0.0
      var i = 0
      while (i < d) { dot += r1(i)(a).toDouble * r1(i)(b); i += 1 }
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-5, s"RtR[$a][$b]=$dot")
    }
    (0 until d).foreach(j => assert(r1(j)(j) >= 0f, s"diag sign col $j"))
  }

  test("blocked rotation kernel is bit-identical to the scalar rotate " +
      "(every block size, odd tails, iterator adapter order)") {
    val d = 96
    val r = RabitQ.randomRotation(d, 11L)
    val rd = Opq.widen(r)
    val rnd = new scala.util.Random(5)
    val vs = Array.fill(11)(Array.fill(d)((rnd.nextGaussian() * 3).toFloat))
    // exact float equality — the whole point of the ascending-i contract
    vs.foreach { v =>
      assert(Opq.rotateWide(rd, v).toSeq == Opq.rotate(r, v).toSeq)
    }
    val blk = Opq.rotateBlock4(rd, vs.take(4))
    (0 until 4).foreach { i =>
      assert(blk(i).toSeq == Opq.rotate(r, vs(i)).toSeq)
    }
    // 11 rows → blocks of 4,4,3: adapter preserves order + exactness
    val out = Opq.rotatedRows(r, vs.zipWithIndex.iterator,
      (t: (Array[Float], Int)) => t._1).toArray
    assert(out.map(_._1._2).toSeq == (0 until 11))
    out.foreach { case ((v, _), rv) =>
      assert(rv.toSeq == Opq.rotate(r, v).toSeq)
    }
  }

  test("rotation preserves norms (isometry within float truncation)") {
    val d = 64
    val r = RabitQ.randomRotation(d, 3L)
    val rnd = new scala.util.Random(5)
    (0 until 20).foreach { _ =>
      val v = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val rv = Opq.rotate(r, v)
      def n2(a: Array[Float]): Double = a.map(x => x.toDouble * x).sum
      assert(math.abs(math.sqrt(n2(rv)) - math.sqrt(n2(v))) < 1e-4)
    }
  }

  test("encodeVec: bits are rotated signs, g = ||x|| / sum|x|, zero vec -> 0") {
    val rnd = new scala.util.Random(11)
    (0 until 30).foreach { _ =>
      val d = 1 + rnd.nextInt(200)
      val rv = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val (bits, g) = RabitQ.encodeVec(rv)
      (0 until d).foreach { j =>
        val got = ((bits(j >> 6) >>> (j & 63)) & 1L) == 1L
        assert(got == (rv(j) > 0f), s"bit $j")
      }
      var sa = 0.0; var sq = 0.0
      rv.foreach { x => sa += math.abs(x.toDouble); sq += x.toDouble * x.toDouble }
      assert(g == math.sqrt(sq) / sa)
    }
    val (zb, zg) = RabitQ.encodeVec(Array.fill(16)(0f))
    assert(zg == 0.0 && zb.forall(_ == 0L))
  }

  test("signDot equals the naive +/- sum") {
    val rnd = new scala.util.Random(13)
    (0 until 30).foreach { _ =>
      val d = 1 + rnd.nextInt(200)
      val rv = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val q = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val (bits, _) = RabitQ.encodeVec(rv)
      val naive = (0 until d).map(j =>
        if (rv(j) > 0f) q(j).toDouble else -q(j).toDouble).sum
      assert(math.abs(RabitQ.signDot(bits, q) - naive) < 1e-9)
    }
  }

  test("u4 bit-sliced signDot is within the quantization error bound") {
    val rnd = new scala.util.Random(17)
    (0 until 30).foreach { _ =>
      val d = 16 + rnd.nextInt(300)
      val rv = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val q = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val (bits, _) = RabitQ.encodeVec(rv)
      val exact = RabitQ.signDot(bits, q)
      val planes = RabitQ.quantizeQuery(q)
      // per-dim rounding error <= delta/2 -> |total| <= d*delta/2 (+ slop)
      val bound = d * planes.delta / 2.0 + 1e-6
      assert(math.abs(planes.signDot(bits) - exact) <= bound,
        s"d=$d exact=$exact u4=${planes.signDot(bits)} bound=$bound")
    }
  }

  test("estimator tracks cosine: unbiased-ish, error shrinks with d") {
    def meanErr(d: Int, seed: Long): Double = {
      val r = RabitQ.randomRotation(d, seed)
      val rnd = new scala.util.Random(23)
      val errs = (0 until 200).map { _ =>
        val o = Array.fill(d)(rnd.nextFloat() * 2 - 1)
        val q = Array.fill(d)(rnd.nextFloat() * 2 - 1)
        val ro = Opq.rotate(r, o)
        val rq = Opq.rotate(r, q)
        val (bits, g) = RabitQ.encodeVec(ro)
        def n(a: Array[Float]): Double =
          math.sqrt(a.map(x => x.toDouble * x).sum)
        val cos = o.indices.map(i => o(i).toDouble * q(i)).sum / (n(o) * n(q))
        val est = RabitQ.signDot(bits, rq) * g / n(rq)
        math.abs(est - cos)
      }
      errs.sum / errs.length
    }
    val e64 = meanErr(64, 1L)
    val e512 = meanErr(512, 1L)
    assert(e64 < 0.12, s"mean |est-cos| at d=64 was $e64")
    assert(e512 < e64 / 2, s"error must shrink with d: d=64 $e64, d=512 $e512")
  }

  test("knnJoin matches an in-memory recompute of the same candidate cut " +
      "+ cosine rerank") {
    def check(in: DataFrame, m: RabitQ.Model, k: Int, rerank: Int): Unit = {
      val qs = in.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val got = RabitQ.knnJoin(m, in, qs, k = k, rerank = rerank,
          scoreDigits = 6)
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

      val base = in.select(col("vec_id").cast("long"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val enc = base.map { case (id, v) =>
        val (bits, g) = RabitQ.encodeVec(Opq.rotate(m.rotation, v))
        (id, bits, g)
      }
      val want = base.filter(_._1 < 20).flatMap { case (qid, qv) =>
        val qrv = Opq.rotate(m.rotation, qv)
        val cands = enc.map { case (id, bits, g) =>
          val ts = math.floor(RabitQ.signDot(bits, qrv) * g * 1e6 + 0.5) / 1e6
          (id, ts)
        }.sortBy { case (id, ts) => (-ts, id) }.take(rerank)
        val qmap = base.toMap
        cands.map { case (id, _) =>
          val v = qmap(id)
          def dot(a: Array[Float], b: Array[Float]): Double =
            a.indices.map(i => a(i).toDouble * b(i)).sum
          val cos = dot(v, qv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(qv, qv)))
          (id, math.floor(cos * 1e6 + 0.5) / 1e6)
        }.sortBy { case (id, sc) => (-sc, id) }.take(k).zipWithIndex
          .map { case ((id, _), i) => (qid, id, i + 1) }
      }.toSet
      assert(got == want)
    }
    check(emb, model, k = 5, rerank = 30)
    // every vector 4 times, ids falling as rows arrive: k = rerank = 6
    // shows the candidate set, and its cut falls inside a tie
    val dup = TieInputs.duplicated(emb)
    val dm = RabitQ.fit(dup, seed = 42L)
    check(dup, dm, k = 6, rerank = 6)
    dm.encoded.unpersist()
  }

  test("recall@10 >= 0.9 at rerank=100, and u4 kernel stays within 0.05") {
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine",
      scoreDigits = 6)
    val rExact = Recall.microAvgRecall(
      RabitQ.knnJoin(model, emb, probes, k = 10, rerank = 100,
        scoreDigits = 6), exact)
      .select("recall").head().getDouble(0)
    val rU4 = Recall.microAvgRecall(
      RabitQ.knnJoinU4(model, emb, probes, k = 10, rerank = 100,
        scoreDigits = 6), exact)
      .select("recall").head().getDouble(0)
    assert(rExact >= 0.9, s"estimator-path recall was $rExact")
    assert(rU4 >= rExact - 0.05, s"u4 recall $rU4 vs exact-path $rExact")
  }

  test("store CRUD: save/load round-trips results, load-missing -> None") {
    val path = java.nio.file.Files.createTempDirectory("rabitq").toString
    try {
      assert(RabitQ.load(spark, s"$path/nope").isEmpty)
      RabitQ.save(model, s"$path/m")
      val loaded = RabitQ.load(spark, s"$path/m").get
      assert(loaded.rotation.map(_.toSeq).toSeq == model.rotation.map(_.toSeq).toSeq)
      val a = RabitQ.knnJoin(model, emb, probes, k = 5, rerank = 50,
        scoreDigits = 6).collect().map(_.toString).sorted
      val b = RabitQ.knnJoin(loaded, emb, probes, k = 5, rerank = 50,
        scoreDigits = 6).collect().map(_.toString).sorted
      assert(a.sameElements(b))
      RabitQ.delete(spark, s"$path/m")
      assert(RabitQ.load(spark, s"$path/m").isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }
}
