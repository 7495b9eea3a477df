package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.bench.GridBench
import graft.operators.{AnnLsh, KnnJoin, Multimodal, Pca, Recall}
import graft.sources.VectorSources
import graft.streaming.EventPipeline

class OperatorsSpec extends AnyFunSuite {

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

  test("fvecs round-trip: write binary, read back identical (B2)") {
    val tmp = java.nio.file.Files.createTempDirectory("fvecs").toString
    val path = s"$tmp/test.fvecs"
    val vecs = (0 until 50).map(i => Array.tabulate(8)(j => i * 10f + j))
    val out = new DataOutputStream(new FileOutputStream(path))
    vecs.foreach { v =>
      val bb = ByteBuffer.allocate(4 + v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(v.length); v.foreach(bb.putFloat)
      out.write(bb.array())
    }
    // truncated tail: extra garbage record header
    out.writeInt(99); out.close()
    val df = VectorSources.readFvecs(spark, path)
    assert(df.count() == 50)
    val r7 = df.filter(col("vec_id") === 7).select("embedding")
      .first().getSeq[Float](0)
    assert(r7 == vecs(7).toSeq)
    // limit/offset pushdown at decode
    val lim = VectorSources.readFvecs(spark, path, limit = 10, offset = 5)
    assert(lim.count() == 10)
    assert(lim.agg(min("vec_id")).first().getLong(0) == 5)
  }

  test("fvecs multi-file glob: globally unique ids, global limit/offset") {
    val tmp = java.nio.file.Files.createTempDirectory("fvecs_multi").toString
    def write(name: String, vecs: Seq[Array[Float]]): Unit = {
      val out = new DataOutputStream(new FileOutputStream(s"$tmp/$name"))
      vecs.foreach { v =>
        val bb = ByteBuffer.allocate(4 + v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(v.length); v.foreach(bb.putFloat)
        out.write(bb.array())
      }
      out.close()
    }
    // path order = a (20 records), b (30 records) → ids 0..19, 20..49
    write("a.fvecs", (0 until 20).map(i => Array(i.toFloat)))
    write("b.fvecs", (0 until 30).map(i => Array(100f + i)))
    val all = VectorSources.readFvecs(spark, s"$tmp/*.fvecs").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).head)).toMap
    assert(all.size == 50)                 // no id collisions across files
    assert(all(5) == 5f && all(25) == 105f && all(49) == 129f)
    // global limit/offset spanning the file boundary: exactly N rows total
    val win = VectorSources.readFvecs(spark, s"$tmp/*.fvecs", limit = 10, offset = 15)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).head)).sortBy(_._1)
    assert(win.map(_._1).toSeq == (15L until 25L).toSeq)
    assert(win.map(_._2).toSeq == (15 until 20).map(_.toFloat) ++ (0 until 5).map(100f + _))
  }

  test("splittable fvecs FileFormat: byte splits decode to identical rows") {
    import graft.sources.FvecsSource
    val tmp = java.nio.file.Files.createTempDirectory("fvecs_fmt").toString
    def write(name: String, vecs: Seq[Array[Float]]): Unit = {
      val out = new DataOutputStream(new FileOutputStream(s"$tmp/$name"))
      vecs.foreach { v =>
        val bb = ByteBuffer.allocate(4 + v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(v.length); v.foreach(bb.putFloat)
        out.write(bb.array())
      }
      out.close()
    }
    val d = 16
    write("a.fvecs", (0 until 300).map(i => Array.tabulate(d)(j => i * 100f + j)))
    write("b.fvecs", (0 until 200).map(i => Array.tabulate(d)(j => 90000f + i * 100f + j)))
    // force many byte splits: record = 68 bytes, ~1 KB partitions
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val df = FvecsSource.read(spark, s"$tmp/*.fvecs")
      assert(df.rdd.getNumPartitions > 4, "expected multiple byte splits")
      val got = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      assert(got.length == 500)
      // global ids: a.fvecs → 0..299, b.fvecs → 300..499, payloads intact
      assert(got(7)._2.head == 700f && got(305)._2.head == 90500f)
      assert(got.map(_._1).toSeq == (0L until 500L))
      // agrees with the whole-file decoder
      val whole = graft.sources.VectorSources.readFvecs(spark, s"$tmp/*.fvecs")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      assert(got.map(t => (t._1, t._2.toSeq)).toSeq ==
        whole.map(t => (t._1, t._2.toSeq)).toSeq)
      // column pruning path: id-only projection
      assert(df.select("vec_id").count() == 500)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("ivecs: int components cast to float (B3)") {
    val tmp = java.nio.file.Files.createTempDirectory("ivecs").toString
    val path = s"$tmp/test.ivecs"
    val out = new DataOutputStream(new FileOutputStream(path))
    val bb = ByteBuffer.allocate(4 + 12).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(3); bb.putInt(7); bb.putInt(-2); bb.putInt(100)
    out.write(bb.array()); out.close()
    val df = VectorSources.readIvecs(spark, path)
    assert(df.first().getSeq[Float](1) == Seq(7f, -2f, 100f))
  }

  test("bvecs: unsigned byte components cast to float (SIFT1B layout)") {
    val tmp = java.nio.file.Files.createTempDirectory("bvecs").toString
    val path = s"$tmp/test.bvecs"
    val out = new DataOutputStream(new FileOutputStream(path))
    // two 4-d records; 0xFF must decode as 255 (unsigned), not -1
    val bb = ByteBuffer.allocate(2 * (4 + 4)).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4); bb.put(0.toByte); bb.put(127.toByte); bb.put(128.toByte); bb.put(255.toByte)
    bb.putInt(4); bb.put(1.toByte); bb.put(2.toByte); bb.put(3.toByte); bb.put(4.toByte)
    out.write(bb.array()); out.close()
    val rows = VectorSources.readBvecs(spark, path).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0)._2 == Seq(0f, 127f, 128f, 255f))
    assert(rows(1)._2 == Seq(1f, 2f, 3f, 4f))
    // limit/offset applies at decode like the other formats
    assert(VectorSources.readBvecs(spark, path, limit = 1, offset = 1)
      .first().getSeq[Float](1) == Seq(1f, 2f, 3f, 4f))
  }

  test("streaming fvecs source: dir feed, global ids, early close at limit (B4)") {
    val tmp = java.nio.file.Files.createTempDirectory("fvecs_stream").toString
    def write(name: String, first: Int): Unit = {
      val out = new DataOutputStream(new FileOutputStream(s"$tmp/$name"))
      (first until first + 10).foreach { i =>
        val bb = ByteBuffer.allocate(4 + 4 * 4).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(4); (0 until 4).foreach(j => bb.putFloat(i * 10f + j))
        out.write(bb.array())
      }
      out.close()
    }
    write("aa.fvecs", 0); write("bb.fvecs", 10); write("cc.fvecs", 20)
    // early close: 3 files pending but only 15 rows may cross
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val n = graft.sources.FvecsStream.ingestWithLimit(spark, tmp, limit = 15) { b =>
      got ++= b.select("vec_id").collect().map(_.getLong(0))
    }
    assert(n == 15 && got.size == 15)
    assert(got.toSet.subsetOf((0L until 30L).toSet) && got.toSet.size == 15)
    // full drain: every record exactly once, globally-consistent ids
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float])]
    val total = graft.sources.FvecsStream.ingestWithLimit(spark, tmp, limit = 1000) { b =>
      all ++= b.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    }
    assert(total == 30)
    assert(all.map(_._1).sorted == (0L until 30L))
    // ids line up with content: record id i carries vector (i*10+j)
    all.foreach { case (id, v) => assert(v == Seq.tabulate(4)(j => id * 10f + j)) }
  }

  test("synthetic source is partition-independent and seeded (B1)") {
    val a = VectorSources.synthetic(spark, 100, 8, seed = 42)
      .repartition(7).collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val b = VectorSources.synthetic(spark, 100, 8, seed = 42)
      .repartition(2).collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(a == b)
    val c = VectorSources.synthetic(spark, 100, 8, seed = 43)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(a != c)
    // uniform in [-1, 1)
    assert(a.values.flatten.forall(v => v >= -1f && v < 1f))
    // gaussian roughly centered
    val g = VectorSources.synthetic(spark, 2000, 4, 42, "gaussian")
      .select(explode(col("embedding"))).agg(avg("col")).first().getDouble(0)
    assert(math.abs(g) < 0.1)
  }

  test("MaxSim late-interaction scorer matches driver-side brute force") {
    import graft.operators.MaxSim
    // 20 docs x 8 vectors from the embeddings table; 2 query bags
    val dv = emb.filter(col("vec_id") < 160).select(
      expr("CAST(vec_id DIV 8 AS BIGINT)").as("doc_id"),
      col("embedding").as("vec"))
    val qv = emb.filter(col("vec_id") < 16).select(
      expr("CAST(vec_id DIV 8 AS BIGINT)").as("query_id"),
      expr("CAST(vec_id % 8 AS INT)").as("vec_no"),
      col("embedding").as("query_vec"))
    val got = MaxSim.maxSimJoin(dv, qv, k = 5, scoreDigits = 6)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    // brute force on the driver
    val vecs = emb.filter(col("vec_id") < 160)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }; s
    }
    (0L to 1L).foreach { q =>
      val qvecs = (0 until 8).map(i => vecs(q * 8 + i))
      val scores = (0L until 20L).map { d =>
        val dvecs = (0 until 8).map(i => vecs(d * 8 + i))
        val raw = qvecs.map(qi => dvecs.map(di => dot(qi, di)).max).sum
        d -> math.floor(raw * 1e6 + 0.5) / 1e6
      }.sortBy { case (d, s) => (-s, d) }.take(5)
      scores.zipWithIndex.foreach { case ((d, s), i) =>
        assert(got((q, i + 1)) == ((d, s)),
          s"query $q rank ${i + 1}: got ${got((q, i + 1))}, want ($d, $s)")
      }
      // self-match: the query bag IS doc q, so it must rank first
      assert(scores.head._1 == q)
    }
  }

  test("LSH-pruned MaxSim: self-match first, strong top-k agreement with exact") {
    import graft.operators.MaxSim
    val dv = emb.select(expr("CAST(vec_id DIV 8 AS BIGINT)").as("doc_id"),
      col("embedding").as("vec"))
    val qv = emb.filter(col("vec_id") < 24).select(
      expr("CAST(vec_id DIV 8 AS BIGINT)").as("query_id"),
      expr("CAST(vec_id % 8 AS INT)").as("vec_no"),
      col("embedding").as("query_vec"))
    val exact = MaxSim.maxSimJoin(dv, qv, k = 10, scoreDigits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val pruned = MaxSim.maxSimJoinPruned(dv, qv, k = 10,
      numPlanes = 6, d = 64, numTables = 4, scoreDigits = 6).collect()
    val byQuery = pruned.map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    (0L to 2L).foreach { q =>
      // identical vectors collide in every table → the self doc is always
      // a candidate, and MaxSim scores it highest
      val top = byQuery(q).find(_._3 == 1).get
      assert(top._2 == q, s"query $q: self doc not rank 1 (got ${top._2})")
      // candidate pruning keeps strong agreement with the exact top-10
      val hit = byQuery(q).map(_._2).toSet
        .intersect(exact(q).map(_._2).toSet).size
      assert(hit >= 6, s"query $q: pruned/exact top-10 overlap $hit/10")
    }
  }

  test("IVF-gated MaxSim: all-cells equals brute force exactly; pruned keeps " +
      "self-match and overlap") {
    import graft.operators.{IvfFlat, MaxSim}
    val dv = emb.select(expr("CAST(vec_id DIV 8 AS BIGINT)").as("doc_id"),
      col("embedding").as("vec"))
    val qv = emb.filter(col("vec_id") < 24).select(
      expr("CAST(vec_id DIV 8 AS BIGINT)").as("query_id"),
      expr("CAST(vec_id % 8 AS INT)").as("vec_no"),
      col("embedding").as("query_vec"))
    val cents = {
      val m = IvfFlat.fit(emb, numCells = 8)
      m.release() // only the centroids are used below
      m.centroids
    }
    val exact = MaxSim.maxSimJoin(dv, qv, k = 10, scoreDigits = 6)
    // nprobe = C: every cell probed, so candidates = all pairs and the
    // gated scorer must reproduce brute force EXACTLY (same rounding/ties)
    val allCells = MaxSim.maxSimJoinIvf(dv, qv, k = 10, cents, nprobe = 8,
      scoreDigits = 6)
    assert(allCells.collect().map(_.toSeq).toSet ==
      exact.collect().map(_.toSeq).toSet)
    // pruned: a query's vectors route to the cells THEY are assigned to,
    // so the self doc is always a candidate and MaxSim ranks it first
    val pruned = MaxSim.maxSimJoinIvf(dv, qv, k = 10, cents, nprobe = 2,
      scoreDigits = 6).collect()
    val byQuery = pruned.map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    val exactIds = exact.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
    (0L to 2L).foreach { q =>
      assert(byQuery(q).find(_._3 == 1).get._2 == q,
        s"query $q: self doc not rank 1")
      val hit = byQuery(q).map(_._2).toSet
        .intersect(exactIds(q).map(_._2).toSet).size
      assert(hit >= 5, s"query $q: gated/exact top-10 overlap $hit/10")
    }

    // quantizer SHARING: the single-vector hybrid model's quantizer gates
    // the multi-vector surface — one fit serves both retrieval modes.
    // Identical to passing its centroids/metric explicitly, and exact at
    // all-cells gating
    val hyModel = graft.hnsw.IvfHnsw.fit(emb, numCells = 8,
      graft.hnsw.HnswParams(m = 8, efConstruction = 64))
    val shared = MaxSim.maxSimJoinSharedQuantizer(dv, qv, k = 10, hyModel,
      nprobe = 8, scoreDigits = 6).collect().map(_.toSeq).toSet
    val viaCents = MaxSim.maxSimJoinIvf(dv, qv, k = 10, hyModel.centroids,
      nprobe = 8, metric = hyModel.hnsw.params.metric, scoreDigits = 6)
      .collect().map(_.toSeq).toSet
    assert(shared == viaCents, "model overload must equal explicit centroids")
    assert(shared == exact.collect().map(_.toSeq).toSet,
      "all-cells shared-quantizer gating must reproduce brute force")
    hyModel.unpersist()
  }

  test("clustered synthetic source: seeded, partition-independent, separable") {
    val a = VectorSources.syntheticClustered(spark, 400, 8, numClusters = 4,
      spread = 0.05, seed = 42)
      .repartition(7).collect()
      .map(r => (r.getLong(0), (r.getSeq[Float](1), r.getInt(2)))).toMap
    val b = VectorSources.syntheticClustered(spark, 400, 8, numClusters = 4,
      spread = 0.05, seed = 42)
      .repartition(2).collect()
      .map(r => (r.getLong(0), (r.getSeq[Float](1), r.getInt(2)))).toMap
    assert(a == b)
    // every cluster is populated, and membership is roughly balanced
    val sizes = a.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3))
    assert(sizes.values.min > 400 / 4 / 3)
    // separable at small spread: mean within-cluster distance is well under
    // mean cross-cluster distance (the property IVF routing exploits)
    def dist(x: Seq[Float], y: Seq[Float]): Double =
      math.sqrt(x.zip(y).map { case (u, v) => (u - v).toDouble * (u - v) }.sum)
    val pts = a.values.toArray
    val (within, cross) = (for {
      i <- pts.indices.take(80); j <- pts.indices.take(80) if i < j
    } yield (dist(pts(i)._1, pts(j)._1), pts(i)._2 == pts(j)._2))
      .partition(_._2)
    val wAvg = within.map(_._1).sum / within.size
    val cAvg = cross.map(_._1).sum / cross.size
    assert(wAvg * 3 < cAvg, s"within=$wAvg cross=$cAvg")
  }

  test("anisotropic synthetic source: seeded, partition-independent, " +
      "rotated decaying spectrum") {
    val a = VectorSources.syntheticAnisotropic(spark, 500, 16, decay = 0.8,
        seed = 7)
      .repartition(7).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val b = VectorSources.syntheticAnisotropic(spark, 500, 16, decay = 0.8,
        seed = 7)
      .repartition(2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, v) => assert(v.sameElements(b(id))) }
    // the ROTATION hides the spectrum from raw coordinates: per-raw-dim
    // variances must be far more uniform than the latent decay profile
    // (no raw coordinate owns a principal axis)...
    val d = 16
    val vars = (0 until d).map { j =>
      val xs = a.values.map(_(j).toDouble)
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    assert(vars.max / vars.min < math.pow(1 / 0.8, 2 * (d - 1)) / 8,
      s"raw variances look unrotated: $vars")
    // ...while PCA recovers it: the trained eigen-spectrum must decay
    // like decay^2i (top eigenvalue far above the smallest retained)
    import spark.implicits._
    val df = a.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val model = Pca.fit(df, p = 8, sampleN = 500)
    assert(model.eigenvalues.head / model.eigenvalues.last > 4.0,
      s"eigen-spectrum not decaying: ${model.eigenvalues.toSeq}")
  }

  test("LSH ANN recall@10 >= 0.4 vs exact with 1-bit multiprobe (scale path)") {
    // isotropic random embeddings are LSH's worst case; 6 planes × 4
    // tables + 1-bit multiprobe prunes most of the corpus per query — the
    // point is the plan shape, recall tuning is numPlanes/numTables
    val approx = AnnLsh.lshKnnJoin(emb, probes, k = 10, numPlanes = 6, d = 64,
      numTables = 4)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10)
    val recall = Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(recall >= 0.4, s"lsh recall = $recall")
  }

  test("LSH near-dup pairs are a subset of brute force with decent pair recall") {
    val threshold = 0.3
    val brute = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
      .join(emb.select(col("vec_id").as("id2"), col("embedding").as("e2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        graft.Qutil.rnd(graft.functions.similarity.cosine_sim(col("e1"), col("e2")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = AnnLsh.lshNearDupPairs(emb, threshold, numPlanes = 6, d = 64,
      numTables = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture threshold should produce pairs")
    assert(lsh.subsetOf(brute), "rerank must make every LSH pair a true pair")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.5, s"pair recall = $recall (${lsh.size}/${brute.size})")
  }

  test("streaming windowed counts over MemoryStream match batch twin (B4 analog)") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventPipeline.windowedCounts(sdf).writeStream
      .format("memory").queryName("wc").outputMode("append").start()
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    mem.addData((1L, at(0), "click", 1.0), (2L, at(5), "click", 2.0),
      (3L, at(70), "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first window
    mem.addData((4L, at(300), "click", 4.0))
    q.processAllAvailable()
    val got = spark.table("wc").collect()
    q.stop()
    val w1015 = got.filter(r => r.getAs[java.sql.Timestamp]("window_start")
      .toString.startsWith("2024-01-01 10"))
    assert(w1015.exists(r => r.getAs[String]("event_type") == "click" &&
      r.getAs[Long]("n") == 2))
  }

  test("stateful sessionization closes sessions on timeout (flatMapGroupsWithState)") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.Event]
    val q = EventPipeline.sessionize(mem.toDS(), gapMs = 60000L).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    mem.addData(
      graft.streaming.Event(1, t0, 7L, "click", 1.0),
      graft.streaming.Event(2, t0, 7L, "view", 2.0))
    q.processAllAvailable()
    // watermark jumps far past user 7's (last event + gap) → session closes
    mem.addData(graft.streaming.Event(3, at(120), 8L, "click", 5.0))
    q.processAllAvailable()
    mem.addData(graft.streaming.Event(4, at(121), 8L, "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("sessions").as[graft.streaming.SessionSummary].collect()
    q.stop()
    assert(out.exists(s => s.user_id == 7L && s.n_events == 2 && s.total_value == 3.0))
  }

  test("sessionization splits by gap even when events arrive before timeout") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.Event]
    val q = EventPipeline.sessionize(mem.toDS(), gapMs = 60000L).writeStream
      .format("memory").queryName("sessions_split").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // replay/backfill shape: one batch holds three gap-separated sessions
    // for user 7 (0-1 min, 10 min, 30-31 min) — no timeout has fired yet,
    // so without in-data gap-splitting they'd merge into one session
    mem.addData(
      graft.streaming.Event(1, at(0), 7L, "click", 1.0),
      graft.streaming.Event(2, at(1), 7L, "view", 2.0),
      graft.streaming.Event(3, at(10), 7L, "click", 4.0),
      graft.streaming.Event(4, at(30), 7L, "click", 8.0),
      graft.streaming.Event(5, at(31), 7L, "view", 16.0))
    q.processAllAvailable()
    val closedEarly = spark.table("sessions_split")
      .as[graft.streaming.SessionSummary].collect()
    // the two older sessions close immediately (split in the data branch);
    // the 30-31 min session stays open pending the watermark
    assert(closedEarly.length == 2)
    assert(closedEarly.exists(s => s.n_events == 2 && s.total_value == 3.0 &&
      s.session_start == at(0) && s.session_end == at(1)))
    assert(closedEarly.exists(s => s.n_events == 1 && s.total_value == 4.0))
    // advance the watermark far past 31 min + gap → last session times out
    mem.addData(graft.streaming.Event(6, at(240), 8L, "click", 0.5))
    q.processAllAvailable()
    mem.addData(graft.streaming.Event(7, at(241), 8L, "view", 0.5))
    q.processAllAvailable()
    val all = spark.table("sessions_split")
      .as[graft.streaming.SessionSummary].collect()
    q.stop()
    assert(all.exists(s => s.user_id == 7L && s.n_events == 2 &&
      s.total_value == 24.0 && s.session_start == at(30) && s.session_end == at(31)))
  }

  test("stream-stream interval join matches its batch twin (click attribution)") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val evs = Seq(
      graft.streaming.Event(1, at(0), 7L, "click", 0.0),
      graft.streaming.Event(2, at(10), 7L, "click", 0.0),
      graft.streaming.Event(3, at(19), 8L, "click", 0.0), // other user
      graft.streaming.Event(4, at(20), 7L, "purchase", 9.5),
      graft.streaming.Event(5, at(35), 7L, "purchase", 3.0))
    val mem = MemoryStream[graft.streaming.Event]
    val q = EventPipeline.clickAttribution(mem.toDS().toDF(), windowMin = 30)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val got = spark.table("attrib")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    q.stop()
    // purchase@20 sees clicks @0,@10; purchase@35 only @10 (45-35>30 window);
    // user 8's click never attaches
    assert(got == Set((4L, 1L), (4L, 2L), (5L, 2L)), s"got $got")
    val batch = EventPipeline.clickAttribution(evs.toDF(), windowMin = 30)
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(batch == got, "streaming and batch twins must agree")
  }

  test("multi-day click attribution: streaming == batch, state ages out past the horizon") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val day = 24 * 60
    // 2-day attribution window: a purchase on day 2 attributes to clicks
    // from day 0 and day 1; a purchase on day 3 no longer sees day 0
    val evs = Seq(
      graft.streaming.Event(1, at(0), 7L, "click", 0.0),
      graft.streaming.Event(2, at(1 * day), 7L, "click", 0.0),
      graft.streaming.Event(3, at(2 * day), 7L, "purchase", 20.0),
      graft.streaming.Event(4, at(3 * day), 7L, "purchase", 5.0))
    val mem = MemoryStream[graft.streaming.Event]
    val q = EventPipeline.clickAttribution(mem.toDS().toDF(),
        windowMin = 2 * day, lateness = "1 hour")
      .writeStream.format("memory").queryName("attrib_2d")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val got = spark.table("attrib_2d")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 1L), (3L, 2L), (4L, 2L)), s"got $got")
    val stateAtHorizon =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateAtHorizon > 0, "join state must buffer rows inside the horizon")
    // advance the watermark 10 days past the data: every buffered click is
    // older than windowMin + lateness and must be evicted — this is the
    // bounded-state claim that makes multi-day windows runnable forever
    mem.addData(graft.streaming.Event(5, at(13 * day), 9L, "click", 0.0))
    q.processAllAvailable()
    mem.addData(graft.streaming.Event(6, at(13 * day + 1), 9L, "view", 0.0))
    q.processAllAvailable()
    val stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateAfter < stateAtHorizon,
      s"state must shrink once the watermark passes the horizon " +
        s"($stateAtHorizon -> $stateAfter)")
    // batch twin agrees at the same window
    val batch = EventPipeline.clickAttribution(evs.toDF(), windowMin = 2 * day)
      .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
    assert(batch == got, "streaming and batch twins must agree at 2-day window")
  }

  test("left-outer click attribution emits unmatched purchases after the watermark") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val mem = MemoryStream[graft.streaming.Event]
    val q = EventPipeline.clickAttributionOuter(mem.toDS().toDF(), windowMin = 30)
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    mem.addData(
      graft.streaming.Event(1, at(0), 7L, "click", 0.0),
      graft.streaming.Event(2, at(10), 7L, "purchase", 9.5),
      graft.streaming.Event(3, at(12), 8L, "purchase", 3.0)) // no click
    q.processAllAvailable()
    // advance the watermark far enough that user 8's purchase provably
    // has no matching click → the null-side row must appear. The global
    // watermark is the MIN over both sides, so BOTH streams must see
    // far-future events (a click alone leaves the purchase side behind).
    mem.addData(
      graft.streaming.Event(4, at(240), 9L, "click", 0.0),
      graft.streaming.Event(5, at(240), 10L, "purchase", 1.0))
    q.processAllAvailable()
    mem.addData(
      graft.streaming.Event(6, at(480), 9L, "click", 0.0),
      graft.streaming.Event(7, at(480), 10L, "purchase", 1.0))
    q.processAllAvailable()
    val got = spark.table("attrib_outer")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    q.stop()
    assert(got.contains((2L, 1L)), s"matched purchase missing: $got")
    assert(got.contains((3L, -1L)),
      s"unmatched purchase must emit with null click after watermark: $got")
  }

  test("click attribution under the RocksDB state store matches batch") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
      val evs = Seq(
        graft.streaming.Event(1, at(0), 7L, "click", 0.0),
        graft.streaming.Event(2, at(10), 7L, "click", 0.0),
        graft.streaming.Event(3, at(20), 7L, "purchase", 9.5))
      val mem = MemoryStream[graft.streaming.Event]
      val q = EventPipeline.clickAttribution(mem.toDS().toDF(), windowMin = 30)
        .writeStream.format("memory").queryName("attrib_rocks")
        .outputMode("append").start()
      mem.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("attrib_rocks")
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      // the join really ran on RocksDB-backed state
      val metrics = q.lastProgress.stateOperators
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      q.stop()
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state operator not on RocksDB; metrics: ${metrics.mkString(",")}")
      val batch = EventPipeline.clickAttribution(evs.toDF(), windowMin = 30)
        .select("purchase_id", "click_id").as[(Long, Long)].collect().toSet
      assert(got == batch && got == Set((3L, 1L), (3L, 2L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.Event]
    val q = EventPipeline.streamingDedup(mem.toDS().toDF(), Seq("event_id"),
        lateness = "1 minute").writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    mem.addData(
      graft.streaming.Event(1, at(0), 7L, "click", 1.0),
      graft.streaming.Event(1, at(1), 7L, "click", 1.0), // dup within batch
      graft.streaming.Event(2, at(2), 8L, "view", 2.0))
    q.processAllAvailable()
    mem.addData(graft.streaming.Event(1, at(5), 7L, "click", 1.0)) // dup across batches
    q.processAllAvailable()
    val n = spark.table("dedup_stream").count()
    q.stop()
    assert(n == 2, s"expected 2 unique events, got $n")
  }

  test("dedup connected components: driver and distributed paths agree") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, singletons 20, 21
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L)
    for (limit <- Seq(5000000L, 0L)) { // union-find path, then iterative path
      val got = graft.operators.Dedup.connectedComponents(docs, pairs, driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"driverEdgeLimit=$limit")
    }
    // canonical flag marks exactly the cluster minima
    val canon = graft.operators.Dedup.connectedComponents(docs, pairs)
      .filter(col("is_canonical")).collect().map(_.getLong(0)).toSet
    assert(canon == Set(1L, 10L, 20L, 21L))
  }

  test("dedup pointer jumping converges in O(log diameter) rounds on deep " +
      "components (CcScaleMain geometry at spec scale)") {
    import spark.implicits._
    // a 512-chain [0,512) and a 256-vertex binary tree [1000,1256):
    // worst realistic diameters; the label-chase compression step must
    // converge well under the 25-round cap (one-hop chase ⇒ ~log2 rounds)
    val chain = (0L until 511L).map(v => (v, v + 1))
    val tree = (1001L until 1256L).map(v => (1000L + (v - 1000L) / 2, v))
    val docs = ((0L until 512L) ++ (1000L until 1256L)).toDF("doc_id")
    val pairs = (chain ++ tree).toDF("id1", "id2")
    val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    val got = graft.operators.Dedup.connectedComponents(docs, pairs,
        driverEdgeLimit = 0L, maxRounds = 25, roundsOut = Some(rounds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.as[Long].collect().foreach { v =>
      val want = if (v < 512L) 0L else 1000L
      assert(got(v) == want, s"vertex $v")
    }
    assert(rounds.get > 0 && rounds.get <= 15,
      s"expected O(log diameter) convergence, took ${rounds.get} rounds")
    // union-find twin agrees (and reports rounds=0)
    val ufRounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    val uf = graft.operators.Dedup.connectedComponents(docs, pairs,
        roundsOut = Some(ufRounds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == got)
    assert(ufRounds.get == 0)
  }

  test("multimodal stub plumbing: decode features + frame sampling") {
    import spark.implicits._
    val media = (0L until 10L).map { i =>
      (i, "image", Array.fill[Byte](1000 + i.toInt)((i % 7).toByte), 640, 480)
    }.toDF("media_id", "media_type", "content", "width", "height")
    val feats = Multimodal.decodeFeaturesStub(media, featureDim = 16)
    assert(feats.count() == 10)
    assert(feats.select("feature").first().getSeq[Float](0).length == 16)
    // deterministic
    val f1 = Multimodal.decodeFeaturesStub(media).collect().map(_.toSeq).toSet
    val f2 = Multimodal.decodeFeaturesStub(media).collect().map(_.toSeq).toSet
    assert(f1 == f2)
    val frames = Multimodal.sampleFramesStub(media, frameBytes = 100, stride = 2)
    assert(frames.count() > 10) // explosion happened
    val rs = Multimodal.resizeMeta(media, 320).select("out_width", "out_height").first()
    assert(rs.getInt(0) == 320 && rs.getInt(1) == 240)
  }

  test("IVF-Flat: deterministic train, recall@10 >= 0.5 at nprobe=4/16") {
    import graft.operators.IvfFlat
    val m1 = IvfFlat.fit(emb, numCells = 16)
    val m2 = IvfFlat.fit(emb, numCells = 16)
    assert(m1.centroids.map(_._2.toSeq).toSeq == m2.centroids.map(_._2.toSeq).toSeq)
    val approx = IvfFlat.knnJoin(m1, probes, k = 10, nprobe = 4)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10)
    val recall = Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(recall >= 0.5, s"ivf recall = $recall")
    // nprobe = numCells ⇒ exhaustive ⇒ recall 1.0
    val full = IvfFlat.knnJoin(m1, probes, k = 10, nprobe = 16)
    val r2 = Recall.microAvgRecall(full, exact).select("recall").first().getDouble(0)
    assert(r2 == 1.0, s"exhaustive ivf recall = $r2")
    m1.release(); m2.release()
  }

  test("salted join and two-phase agg match unsalted results on skewed keys") {
    import spark.implicits._
    import graft.operators.Skew
    // 90% of rows share one hot key
    val big = (0 until 10000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toDouble))
      .toDF("k", "v")
    val small = Seq((7L, "hot"), (10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("k", "name")
    val expected = big.join(small, "k").groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedJoin(big, small, "k", buckets = 8).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == expected)
    // two-phase aggregation merges partials correctly
    val direct = big.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val twoPhase = Skew.twoPhaseAgg(big, "k", 8)(
        Seq(count(lit(1)).as("pn"), sum("v").as("ps")),
        Seq(sum("pn").as("n"), sum("ps").as("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(twoPhase == direct)
  }

  test("PQ auto subspace count: d/8 at any width, divisor fallback, " +
      "default fit at d=64 unchanged") {
    import graft.operators.Pq
    assert(Pq.autoNumSub(64) == 8)     // the historical default — unchanged
    assert(Pq.autoNumSub(768) == 96)   // embedding widths scale code length
    assert(Pq.autoNumSub(1536) == 192)
    assert(Pq.autoNumSub(100) == 10)   // 100 % 12 != 0 → largest divisor ≤ 12
    assert(Pq.autoNumSub(7) == 1)
    // a default fit at d=64 still produces 8 subspaces of 8 dims
    val m = Pq.fit(emb, sampleN = 200)
    assert(m.numSub == 8 && m.subDim == 8)
    m.encoded.unpersist()
  }

  /** In-memory recompute of the PQ-family candidate cut + euclidean
    * rerank over `in`'s probes (vec_id < 20): each probe's candidates are
    * the code rows (cell, id, codes) of the cells `cellsOf` routes it to,
    * keyed by rnd(Σ_s lut(s)(code_s), adcDigits) in the (key, cand_id)
    * order, top-`rerank`; then 1/(1+L2) rounded to 1e-6, (score DESC, id)
    * top-k. `lutVec(qv, cell)` is the query in the cell's code space. */
  private def adcRecompute(in: DataFrame, codebooks: Array[Array[Array[Float]]],
      codes: Seq[(Int, Long, Array[Short])], k: Int, rerank: Int,
      adcDigits: Int, cellsOf: Array[Float] => Seq[Int],
      lutVec: (Array[Float], Int) => Array[Float]): Set[(Long, Long, Int)] = {
    val numSub = codebooks.length
    val subDim = codebooks(0)(0).length
    val vecs = in.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val bmap = vecs.toMap
    def rnd(x: Double, d: Int): Double =
      math.floor(x * math.pow(10, d) + 0.5) / math.pow(10, d)
    vecs.filter(_._1 < 20).toSeq.flatMap { case (qid, qv) =>
      val cells = cellsOf(qv)
      val cands = cells.flatMap { cell =>
        val q = lutVec(qv, cell)
        val lut = Array.tabulate(numSub, codebooks(0).length) { (s, c) =>
          var dist = 0.0
          (0 until subDim).foreach { j =>
            val x = q(s * subDim + j) - codebooks(s)(c)(j)
            dist += x.toDouble * x
          }
          dist
        }
        codes.filter(_._1 == cell).map { case (_, id, code) =>
          var dist = 0.0
          (0 until numSub).foreach(s => dist += lut(s)(code(s)))
          (rnd(dist, adcDigits), id)
        }
      }.sorted.take(rerank)
      cands.map { case (_, id) =>
        val v = bmap(id)
        var ss = 0.0
        v.indices.foreach { i => val d = v(i).toDouble - qv(i); ss += d * d }
        (-rnd(1.0 / (1.0 + math.sqrt(ss)), 6), id)
      }.sorted.take(k).zipWithIndex.map { case ((_, id), i) => (qid, id, i + 1) }
    }.toSet
  }

  private def probesOf(in: DataFrame): DataFrame = in.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  private def triples(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("PQ: deterministic fit, ADC+rerank recall, exhaustive-rerank exactness") {
    import graft.operators.Pq
    val m1 = Pq.fit(emb, numSub = 8, codesPerSub = 16)
    val m2 = Pq.fit(emb, numSub = 8, codesPerSub = 16)
    assert(m1.codebooks.flatten.map(_.toSeq).toSeq ==
      m2.codebooks.flatten.map(_.toSeq).toSeq)
    // codes are 8 shorts per vector (32x smaller than 64 floats)
    assert(m1.encoded.first().getSeq[Short](1).length == 8)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "euclidean")
    val approx = Pq.knnJoin(m1, emb, probes, k = 10, rerank = 100)
    val recall = Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(recall >= 0.6, s"pq recall@10 = $recall")
    // rerank = corpus size ⇒ exact results regardless of code quality
    val n = emb.count().toInt
    val full = Pq.knnJoin(m1, emb, probes, k = 10, rerank = n)
    val r2 = Recall.microAvgRecall(full, exact).select("recall").first().getDouble(0)
    assert(r2 == 1.0, s"exhaustive-rerank pq recall = $r2")
    // the (rnd(dist, adcDigits), cand_id) order, recomputed in memory — on
    // this input, and on a duplicate-vector one whose cut falls in a tie
    def recompute(in: DataFrame, m: Pq.Model, k: Int, rerank: Int): Unit = {
      val got = triples(Pq.knnJoin(m, in, probesOf(in), k = k, rerank = rerank,
        scoreDigits = 6, adcDigits = 9))
      val codes = m.encoded.collect()
        .map(r => (0, r.getLong(0), r.getSeq[Short](1).toArray)).toSeq
      assert(got == adcRecompute(in, m.codebooks, codes, k, rerank, 9,
        _ => Seq(0), (qv, _) => qv))
    }
    recompute(emb, m1, k = 5, rerank = 30)
    val dup = graft.operators.TieInputs.duplicated(emb)
    val dm = Pq.fit(dup, numSub = 8, codesPerSub = 16)
    recompute(dup, dm, k = 6, rerank = 6)
    m1.encoded.unpersist(); m2.encoded.unpersist(); dm.encoded.unpersist()
  }

  test("IVF-PQ: deterministic fit, nprobe recall floor, all-cells+full-rerank exactness") {
    import graft.operators.IvfPq
    val m1 = IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 16)
    val m2 = IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 16)
    assert(m1.codebooks.flatten.map(_.toSeq).toSeq ==
      m2.codebooks.flatten.map(_.toSeq).toSeq)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "euclidean")
    val approx = IvfPq.knnJoin(m1, emb, probes, k = 10, nprobe = 4, rerank = 100)
    val recall = Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(recall >= 0.5, s"ivfpq recall@10 = $recall")
    // probing every cell with corpus-sized rerank degenerates to exact
    val n = emb.count().toInt
    val full = IvfPq.knnJoin(m1, emb, probes, k = 10, nprobe = 8, rerank = n)
    val r2 = Recall.microAvgRecall(full, exact).select("recall").first().getDouble(0)
    assert(r2 == 1.0, s"exhaustive ivfpq recall = $r2")
    // the (rnd(dist, adcDigits), cand_id) order behind euclidean routing
    // ((dist, cell), float diffs), recomputed in memory — on this input,
    // and on a duplicate-vector one whose cut falls in a tie
    def recompute(in: DataFrame, m: IvfPq.Model, k: Int, rerank: Int): Unit = {
      val got = triples(IvfPq.knnJoin(m, in, probesOf(in), k = k, nprobe = 4,
        rerank = rerank, scoreDigits = 6, adcDigits = 9))
      val codes = m.encoded.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Short](2).toArray)).toSeq
      val cents = m.centroids.toMap
      def route(qv: Array[Float]): Seq[Int] = m.centroids.map { case (c, cv) =>
        var dist = 0.0
        qv.indices.foreach { j => val x = qv(j) - cv(j); dist += x.toDouble * x }
        (dist, c)
      }.sorted.take(4).map(_._2).toSeq
      assert(got == adcRecompute(in, m.codebooks, codes, k, rerank, 9, route,
        (qv, cell) => qv.indices.map(j => qv(j) - cents(cell)(j)).toArray))
    }
    recompute(emb, m1, k = 5, rerank = 30)
    val dup = graft.operators.TieInputs.duplicated(emb)
    val dm = IvfPq.fit(dup, numCells = 8, numSub = 8, codesPerSub = 16)
    recompute(dup, dm, k = 6, rerank = 6)
    m1.encoded.unpersist(); m2.encoded.unpersist(); dm.encoded.unpersist()
  }

  test("IVF-PQ with rotated residuals: orthogonal R, recall holds, exactness") {
    import graft.operators.IvfPq
    val m = IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 16,
      opqIters = 4)
    val r = m.rotation.get
    val d = r.length
    var maxDev = 0.0
    for (i <- 0 until d; j <- i until d) {
      var dot = 0.0
      (0 until d).foreach(t => dot += r(t)(i).toDouble * r(t)(j))
      maxDev = math.max(maxDev, math.abs(dot - (if (i == j) 1.0 else 0.0)))
    }
    assert(maxDev < 1e-3, s"residual rotation not orthogonal, dev=$maxDev")
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "euclidean")
    val approx = IvfPq.knnJoin(m, emb, probes, k = 10, nprobe = 4, rerank = 100)
    val recall = Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(recall >= 0.5, s"rotated ivfpq recall@10 = $recall")
    // rotation is an isometry: all-cells + corpus rerank stays exact
    val n = emb.count().toInt
    val full = IvfPq.knnJoin(m, emb, probes, k = 10, nprobe = 8, rerank = n)
    val r2 = Recall.microAvgRecall(full, exact).select("recall").first().getDouble(0)
    assert(r2 == 1.0, s"exhaustive rotated ivfpq recall = $r2")
    m.encoded.unpersist()
  }

  test("SQ8: code range, 4x compression, high recall with exact rerank") {
    import graft.operators.Sq
    val m = Sq.fit(emb)
    // every code byte decodes inside the observed per-dim range, and the
    // quantization error per component is bounded by scale/2 + rounding
    val d = m.mins.length
    assert(d == 64)
    val enc = m.encoded.collect()
    assert(enc.forall(_.getAs[Array[Byte]]("codes").length == d),
      "codes must be 1 byte per dimension (4x smaller than float32)")
    // reconstruction error bound: |v_i - decode(code_i)| <= scale_i/2 + eps
    val orig = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    enc.take(50).foreach { r =>
      val id = r.getLong(0); val codes = r.getAs[Array[Byte]]("codes")
      val v = orig(id)
      (0 until d).foreach { i =>
        val dec = m.mins(i) + (codes(i) & 0xff) * m.scales(i)
        assert(math.abs(v(i) - dec) <= m.scales(i) / 2 + 1e-4,
          s"dim $i of vec $id quantization error out of bound")
      }
    }
    val approx = Sq.knnJoin(m, emb, probes, k = 10, rerank = 100)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "euclidean")
    val rec = graft.operators.Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(rec >= 0.9, s"sq recall@10 = $rec")
    m.encoded.unpersist()
  }

  test("packed 4-bit PQ codes: identical results, half the bytes, round-trips") {
    import graft.operators.Pq
    val plain = Pq.fit(emb, numSub = 8, codesPerSub = 16, sampleN = 500)
    val packed = Pq.fit(emb, numSub = 8, codesPerSub = 16, sampleN = 500,
      packed = true)
    // same codebooks -> same codes -> byte layout must not change results
    val a = Pq.knnJoin(plain, emb, probes, k = 10, rerank = 80)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val b = Pq.knnJoin(packed, emb, probes, k = 10, rerank = 80)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(a == b, "packed scan must reproduce the unpacked candidates")
    // storage: binary nibbles, numSub/2 bytes per vector
    assert(packed.encoded.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(packed.encoded.take(5).forall(_.getAs[Array[Byte]]("codes").length == 4))
    // persistence keeps the packed layout
    val tmp = java.nio.file.Files.createTempDirectory("pqp").toString + "/idx"
    Pq.save(packed, tmp)
    val loaded = Pq.load(spark, tmp).get
    assert(loaded.packed, "load must infer the packed layout from the schema")
    val c = Pq.knnJoin(loaded, emb, probes, k = 10, rerank = 80)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(c == b)
    Pq.delete(spark, tmp)
    // illegal: nibbles cannot hold >16 codes
    intercept[IllegalArgumentException] {
      Pq.fit(emb, numSub = 8, codesPerSub = 32, sampleN = 100, packed = true)
    }
    plain.encoded.unpersist(); packed.encoded.unpersist()
  }

  test("packed 4-bit IVF-PQ codes: identical results, persistence round-trip") {
    import graft.operators.IvfPq
    val plain = IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 16,
      sampleN = 500, opqIters = 2)
    val packed = IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 16,
      sampleN = 500, opqIters = 2, packed = true)
    // packing is a storage layout, not a quantizer: results must be equal
    val a = IvfPq.knnJoin(plain, emb, probes, k = 10, nprobe = 4, rerank = 80)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val b = IvfPq.knnJoin(packed, emb, probes, k = 10, nprobe = 4, rerank = 80)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(a == b, "packed cell scan must reproduce the unpacked results")
    assert(packed.encoded.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(packed.encoded.take(5).forall(_.getAs[Array[Byte]]("codes").length == 4))
    // save/load round-trip: cell-partitioned codes, rotation, packed layout
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqp").toString + "/idx"
    IvfPq.save(packed, tmp)
    // codes directory is cell-partitioned parquet (probe-time file pruning)
    val codesDir = new java.io.File(s"$tmp/codes")
    assert(codesDir.listFiles().exists(_.getName.startsWith("cell=")),
      "saved codes must be partitioned by cell")
    val loaded = IvfPq.load(spark, tmp).get
    assert(loaded.packed && loaded.rotation.isDefined)
    assert(loaded.numCells == 8 && loaded.numSub == 8 && loaded.subDim == 8)
    val c = IvfPq.knnJoin(loaded, emb, probes, k = 10, nprobe = 4, rerank = 80)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(c == b, "loaded model must reproduce the saved model's results")
    IvfPq.delete(spark, tmp)
    assert(IvfPq.load(spark, tmp).isEmpty, "load of a deleted path is None")
    intercept[IllegalArgumentException] {
      IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 32,
        sampleN = 100, packed = true)
    }
    plain.encoded.unpersist(); packed.encoded.unpersist()
  }

  test("OPQ: orthogonal rotation, MSE no worse than PQ, recall floor (scale path)") {
    import graft.operators.{Opq, Pq}
    val opq = Opq.fit(emb, numSub = 8, codesPerSub = 16, sampleN = 500, opqIters = 6)
    val d = opq.rotation.length
    // learned rotation must stay orthonormal (Procrustes guarantees it;
    // float round-trip should not destroy it)
    var maxDev = 0.0
    for (i <- 0 until d; j <- i until d) {
      var dot = 0.0
      (0 until d).foreach(t => dot += opq.rotation(t)(i).toDouble * opq.rotation(t)(j))
      maxDev = math.max(maxDev, math.abs(dot - (if (i == j) 1.0 else 0.0)))
    }
    assert(maxDev < 1e-3, s"rotation not orthogonal, dev=$maxDev")
    // the OPQ objective: reconstruction MSE in the learned space is no
    // worse than plain PQ (equality expected on isotropic data; strict
    // gains appear under correlated dims)
    val pts = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val pq = Pq.fit(emb, numSub = 8, codesPerSub = 16, sampleN = 500)
    val mseP = Opq.mse(pts, pq.codebooks, 8, 8)
    val mseO = Opq.mse(pts.map(Opq.rotate(opq.rotation, _)), opq.pq.codebooks, 8, 8)
    assert(mseO <= mseP * 1.05, s"OPQ mse $mseO vs PQ $mseP")
    // end-to-end: rotated ADC + exact rerank hits a recall floor
    val approx = Opq.knnJoin(opq, emb, probes, k = 10, rerank = 100)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "euclidean")
    val rec = graft.operators.Recall.microAvgRecall(approx, exact)
      .select("recall").first().getDouble(0)
    assert(rec >= 0.8, s"opq recall@10 = $rec")
    opq.pq.encoded.unpersist()
    pq.encoded.unpersist()
  }

  test("IVF-Flat save/load round-trip; load missing path is None") {
    import graft.operators.IvfFlat
    val tmp = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    val m = IvfFlat.fit(emb, numCells = 8)
    val before = IvfFlat.knnJoin(m, probes, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    IvfFlat.save(m, tmp)
    val loaded = IvfFlat.load(spark, tmp).get
    assert(loaded.centroids.map(_._2.toSeq).toSeq == m.centroids.map(_._2.toSeq).toSeq)
    val after = IvfFlat.knnJoin(loaded, probes, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(after == before)
    IvfFlat.delete(spark, tmp)
    assert(IvfFlat.load(spark, tmp).isEmpty)
    m.release()
  }

  test("PQ/OPQ/SQ save/load round-trips; load missing path is None") {
    import graft.operators.{Opq, Pq, Sq}
    def results(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet

    val tmpP = java.nio.file.Files.createTempDirectory("pq").toString + "/idx"
    val pq = Pq.fit(emb, numSub = 8, codesPerSub = 16, sampleN = 500)
    val beforeP = results(Pq.knnJoin(pq, emb, probes, k = 5, rerank = 50))
    Pq.save(pq, tmpP)
    val pqL = Pq.load(spark, tmpP).get
    assert(pqL.numSub == pq.numSub && pqL.subDim == pq.subDim &&
      pqL.codesPerSub == pq.codesPerSub)
    assert(results(Pq.knnJoin(pqL, emb, probes, k = 5, rerank = 50)) == beforeP)
    Pq.delete(spark, tmpP)
    assert(Pq.load(spark, tmpP).isEmpty)

    val tmpO = java.nio.file.Files.createTempDirectory("opq").toString + "/idx"
    val opq = Opq.fit(emb, numSub = 8, codesPerSub = 16, sampleN = 500, opqIters = 2)
    val beforeO = results(Opq.knnJoin(opq, emb, probes, k = 5, rerank = 50))
    Opq.save(opq, tmpO)
    val opqL = Opq.load(spark, tmpO).get
    assert(opqL.rotation.map(_.toSeq).toSeq == opq.rotation.map(_.toSeq).toSeq)
    assert(results(Opq.knnJoin(opqL, emb, probes, k = 5, rerank = 50)) == beforeO)
    Opq.delete(spark, tmpO)
    assert(Opq.load(spark, tmpO).isEmpty)

    val tmpS = java.nio.file.Files.createTempDirectory("sq").toString + "/idx"
    val sq = Sq.fit(emb)
    val beforeS = results(Sq.knnJoin(sq, emb, probes, k = 5, rerank = 50))
    Sq.save(sq, tmpS)
    val sqL = Sq.load(spark, tmpS).get
    assert(sqL.mins.toSeq == sq.mins.toSeq && sqL.scales.toSeq == sq.scales.toSeq)
    assert(results(Sq.knnJoin(sqL, emb, probes, k = 5, rerank = 50)) == beforeS)
    Sq.delete(spark, tmpS)
    assert(Sq.load(spark, tmpS).isEmpty)

    pq.encoded.unpersist(); opq.pq.encoded.unpersist(); sq.encoded.unpersist()
  }

  test("knnJoinTimed returns same results as knnJoin plus positive latencies") {
    import graft.hnsw.{HnswIndexer, HnswParams}
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    val plain = model.knnJoin(probes, k = 5).select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val (timed, lat) = model.knnJoinTimed(probes, k = 5)
    val timedSet = timed.select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(plain == timedSet)
    val lats = lat.collect().map(_.getDouble(1))
    assert(lats.length == 20 && lats.forall(_ > 0))
    model.unpersist()
  }

  test("knnJoinTimed adds no entry to the session's cache manager") {
    import graft.hnsw.{HnswIndexer, HnswParams}
    import org.apache.spark.sql.CacheEntries
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    val before = CacheEntries(spark)
    val (res, lat) = model.knnJoinTimed(probes, k = 5)
    assert(res.count() == 100 && lat.count() == 20)
    assert(CacheEntries(spark) == before)
    model.unpersist()
  }

  test("probe batching: batched == unbatched on every code-based ANN path") {
    import graft.operators.{IvfPq, Opq, Pq, ProbeBatch, Sq}
    // batchRows = 7 forces 3 hash batches over the 20 probes on each path
    def asSet(df: DataFrame): Set[Seq[Any]] =
      df.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    def batched(join: DataFrame => DataFrame): DataFrame =
      ProbeBatch.batched(probes, 7, "query_id")(join)
    val pq = Pq.fit(emb, numSub = 8, codesPerSub = 16)
    assert(asSet(Pq.knnJoin(pq, emb, probes, k = 5, rerank = 50)) ==
      asSet(batched(Pq.knnJoin(pq, emb, _, k = 5, rerank = 50))))
    val opq = Opq.fit(emb, numSub = 8, codesPerSub = 16)
    assert(asSet(Opq.knnJoin(opq, emb, probes, k = 5, rerank = 50)) ==
      asSet(batched(Opq.knnJoin(opq, emb, _, k = 5, rerank = 50))))
    val sq = Sq.fit(emb)
    assert(asSet(Sq.knnJoin(sq, emb, probes, k = 5, rerank = 50)) ==
      asSet(batched(Sq.knnJoin(sq, emb, _, k = 5, rerank = 50))))
    val ivfpq = IvfPq.fit(emb, numCells = 8, numSub = 8, codesPerSub = 16)
    assert(asSet(IvfPq.knnJoin(ivfpq, emb, probes, k = 5, nprobe = 4, rerank = 50)) ==
      asSet(batched(IvfPq.knnJoin(ivfpq, emb, _, k = 5, nprobe = 4, rerank = 50))))
  }

  test("MLlib LSH paths: MinHash near-dups + BRP ANN join produce ranked output") {
    import graft.operators.MlLsh
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dups = MlLsh.minHashNearDups(docs, maxJaccardDistance = 0.95,
      numHashTables = 4)
    assert(dups.columns.toSeq == Seq("id1", "id2", "jaccard_dist"))
    dups.count() // executes the approxSimilarityJoin
    val ann = MlLsh.brpAnnJoin(emb, probes.limit(5), k = 5, maxDistance = 20.0)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) <= 5))
    // deterministic across runs (seeded)
    val again = MlLsh.brpAnnJoin(emb, probes.limit(5), k = 5, maxDistance = 20.0)
      .collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet == again)
  }

  test("MLlib parity: MinHash + native banded LSH find the same confirmed near-dups") {
    import graft.operators.MlLsh
    val s = spark; import s.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // independent ground truth: exact 3-token-shingle Jaccard, driver-side
    // (the corpus has a clean gap — every true dup pair is >= 0.6, nothing
    // sits in [0.4, 0.6) — so threshold 0.6 separates cleanly)
    val shs: Map[Long, Set[String]] = d
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, t) =>
        id -> (if (t.length >= 3)
          (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
        else Set.empty[String])
      }.toMap
    def jac(a: Set[String], b: Set[String]): Double = {
      val inter = a.intersect(b).size
      val union = a.size + b.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
    val ids = shs.keys.toSeq.sorted
    val truth = (for { i <- ids; j <- ids if i < j && jac(shs(i), shs(j)) >= 0.6 }
      yield (i, j)).toSet
    assert(truth.nonEmpty, "fixture degenerate: no near-dup pairs in corpus")
    // native banded MinHash candidates, confirmed by the same exact Jaccard
    val native = TextQueries.queries("minhash_lsh_pairs")(spark, dir)
      .as[(Long, Long)].collect()
      .filter { case (a, b) => jac(shs(a), shs(b)) >= 0.6 }.toSet
    // MLlib MinHashLSH candidates; its jaccard_dist IS the exact distance
    val mllib = MlLsh.minHashNearDups(d, maxJaccardDistance = 0.5, numHashTables = 4)
      .filter(col("jaccard_dist") <= 0.4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(native == truth, s"native found ${native.size}, truth ${truth.size}")
    assert(mllib == truth, s"mllib found ${mllib.size}, truth ${truth.size}")
  }

  test("MLlib parity: BRP ANN join holds a recall floor vs the exact oracle") {
    import graft.operators.MlLsh
    val brp = MlLsh.brpAnnJoin(emb, probes, k = 5, maxDistance = 20.0)
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 5, metric = "euclidean")
    val rec = Recall.microAvgRecall(brp, exact).select("recall").first().getDouble(0)
    assert(rec >= 0.9, s"BRP recall@5 = $rec")
  }

  test("grid bench: sweep, json sink, dir source, compare, csv (B9-B16)") {
    val tmp = java.nio.file.Files.createTempDirectory("bench").toString
    val results = GridBench.runGrid(emb, probes.limit(5), "sf0.001-emb",
      ms = Seq(8), efCs = Seq(100), efSearches = Seq(10, 50), k = 5,
      numPartitions = 2)
    assert(results.length == 2)
    assert(results.forall(r => r.recallAtK > 0.0 && r.buildMs > 0))
    val p = GridBench.writeResults(spark, results, tmp, "sf0.001-emb")
    assert(p.contains("bench-sf0.001-emb-"))
    val back = GridBench.readResultsDir(spark, tmp)
    assert(back.count() == 2)
    val (both, mb, mc) = GridBench.compare(back, back)
    assert(both.count() == 2 && mb.count() == 0 && mc.count() == 0)
    assert(both.select(abs(col("delta_recallAtK"))).agg(max("abs(delta_recallAtK)"))
      .first().getDouble(0) == 0.0)
    GridBench.writeCsv(both, s"$tmp/report-csv")
    assert(spark.read.option("header", true).csv(s"$tmp/report-csv").count() == 2)
    val summary = GridBench.deltaSummary(both)
    assert(summary.columns.length == 12)
  }

  test("recall operators: micro-average differs from mean-of-means when k > size (B7)") {
    import spark.implicits._
    // q1: 2 exact rows 1 hit; q2: 1 exact row 1 hit
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val exact = Seq((1L, 10L), (1L, 12L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val micro = Recall.microAvgRecall(approx, exact).select("recall").first().getDouble(0)
    assert(math.abs(micro - 2.0 / 3.0) < 1e-12) // pooled, not (0.5+1)/2
  }

  test("bloom_might_contain: no false negatives, codegen == interpreted") {
    import spark.implicits._
    import graft.functions.BloomFilters
    val members = (0L until 200L).map(_ * 7L)
    val bloom = members.toDF("v").stat.bloomFilter("v", 200, 0.03)
    val probeDf = (0L until 2000L).toDF("v")
    val got = probeDf
      .where(BloomFilters.bloom_might_contain(col("v"), bloom))
      .as[Long].collect().toSet
    // every member must survive (bloom has no false negatives)...
    assert(members.forall(got.contains), "bloom dropped a member")
    // ...and false positives stay near fpp (not a degenerate all-true)
    assert(got.size < 2000 / 2, s"bloom passed ${got.size}/2000 probes")
    // interpreted evaluation (no codegen) agrees row for row
    val interp = probeDf
      .where(BloomFilters.bloom_might_contain(col("v"), bloom))
      .withColumn("g", lit(1)) // force a fresh plan
      .select("v").as[Long].collect().toSet
    assert(interp == got)
    val e = graft.functions.BloomMightContainExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(14L), {
        val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos)
        bos.toByteArray
      })
    assert(e.eval(null) == true, "interpreted eval of a member must be true")
  }

  test("bloom decontamination is exact at any fpp (confirm join removes FPs)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    def sh(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(CASE WHEN size(toks) >= 3
          |  THEN transform(sequence(0, size(toks)-3),
          |       i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
          |  ELSE array() END)""".stripMargin)).as("shingle"))
    val ev = sh(d.filter(col("doc_id") % 97 === 0)).select("shingle")
    val tr = sh(d.filter(col("doc_id") % 97 =!= 0))
    // ground truth: plain exact join
    val exact = tr.join(ev.distinct(), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must actually contain contamination")
    // a sloppy bloom (fpp=0.5) floods phase 1 with false positives; the
    // confirm join must still produce exactly the ground truth
    for (fpp <- Seq(0.01, 0.5)) {
      val got = graft.operators.BloomDecontaminate
        .contaminatedDocs(tr, ev, expectedEvalItems = 10000L, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exact, s"bloom path diverged at fpp=$fpp")
    }
  }

  test("balanced IVF assignment: cell sizes capped, recall floor holds") {
    import graft.operators.{IvfFlat, KnnJoin, Recall}
    val n = emb.count()
    val numCells = 8
    val slack = 0.2
    val cap = math.ceil(n.toDouble / numCells * (1 + slack)).toLong
    val m = IvfFlat.fit(emb, numCells, balanceSlack = slack)
    val sizes = m.assigned.groupBy("cell").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // primary cells keep at most cap rows; one spill round means a cell
    // can additionally receive spill-in, bounded by the donors' overflow
    val greedy = IvfFlat.fit(emb, numCells)
    val greedySizes = greedy.assigned.groupBy("cell").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(sizes.values.max <= cap + greedySizes.values.max - cap,
      s"balanced max ${sizes.values.max} not under bound (cap=$cap)")
    assert(sizes.values.max <= greedySizes.values.max,
      s"balancing must not make the hottest cell hotter: " +
        s"${sizes.values.max} vs greedy ${greedySizes.values.max}")
    assert(sizes.values.sum == n, "balancing must not drop or duplicate rows")
    // the routing contract still holds: probing more cells recovers recall
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10)
    val res = IvfFlat.knnJoin(m, probes, k = 10, nprobe = 4)
    val rec = Recall.microAvgRecall(res, exact).select("recall").first().getDouble(0)
    assert(rec >= 0.4, s"balanced nprobe=4 recall@10 = $rec")
    // deterministic: same fit → identical assignment
    val m2 = IvfFlat.fit(emb, numCells, balanceSlack = slack)
    val a1 = m.assigned.select("id", "cell").collect().map(_.toSeq).toSet
    val a2 = m2.assigned.select("id", "cell").collect().map(_.toSeq).toSet
    assert(a1 == a2)
    m.release(); greedy.release(); m2.release()
  }

  test("two-phase ordinal: dense, order-consistent, no single-partition window") {
    import spark.implicits._
    import graft.operators.Ordinal
    val df = spark.range(0, 10000).select(
      col("id"), xxhash64(col("id")).as("k"))
      .repartition(7) // scrambled input layout must not matter
    val out = Ordinal.withOrdinal(df, "ord", col("k"), col("id"))
    val rows = out.select("id", "k", "ord")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    // dense 0..n-1
    assert(rows.map(_._3).toSeq == (0L until 10000L).toSeq)
    // ordinal order == (k, id) order
    val expected = rows.sortBy(t => (t._2, t._1)).map(_._1).toSeq
    assert(rows.map(_._1).toSeq == expected)
    // determinism across layouts
    val again = Ordinal.withOrdinal(df.repartition(3), "ord", col("k"), col("id"))
      .select("id", "ord").as[(Long, Long)].collect().toSet
    assert(again == rows.map(t => (t._1, t._3)).toSet)
    // the plan must not contain a global (unpartitioned) Window — the
    // whole point of the two-phase formulation
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"ordinal plan fell back to a window:\n$plan")
  }

  test("grouped prefix sum: window-identical, layout-independent, no window op") {
    import spark.implicits._
    import graft.operators.GroupedPrefixSum
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 5000).select(
        col("id"),
        (xxhash64(col("id")) % 3).cast("string").as("grp"),
        (pmod(xxhash64(col("id"), lit(7)), lit(100)) + 1).as("v"))
      .repartition(7) // scrambled input layout must not matter
    val out = GroupedPrefixSum.runningSum(df, "cum", "v",
      Seq("grp"), Seq(col("id")))
    val got = out.select("id", "cum").as[(Long, Long)].collect().toMap
    // must equal the window formulation exactly
    val w = Window.partitionBy("grp").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = df.withColumn("cum", sum("v").over(w))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got == exp)
    // determinism across layouts
    val again = GroupedPrefixSum.runningSum(df.repartition(3), "cum", "v",
      Seq("grp"), Seq(col("id"))).select("id", "cum")
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    // the output rides the two-phase RDD kernel, never a Window operator
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"prefix sum fell back to a window:\n$plan")
    // LongType is enforced, not silently mangled
    val bad = df.withColumn("v", col("v").cast("int"))
    intercept[IllegalArgumentException] {
      GroupedPrefixSum.runningSum(bad, "cum", "v", Seq("grp"), Seq(col("id")))
    }
  }

  test("grouped prefix sum: declared unique key is enforced — duplicates " +
      "throw instead of producing layout-dependent sums") {
    import graft.operators.GroupedPrefixSum
    val df = spark.range(0, 1000).select(
        col("id"),
        (pmod(col("id"), lit(2))).cast("string").as("grp"),
        lit(1L).as("v"))
      .repartition(7)
    // unique key holds → identical result with and without the guard
    val guarded = GroupedPrefixSum.runningSum(df, "cum", "v",
      Seq("grp"), Seq(col("id")), uniqueKeyCols = Seq("grp", "id"))
      .select("id", "cum").collect().map(r => (r.getLong(0), r.getLong(1)))
    val plain = GroupedPrefixSum.runningSum(df, "cum", "v",
      Seq("grp"), Seq(col("id")))
      .select("id", "cum").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(guarded.toSet == plain.toSet)
    // duplicate (grp, id) rows — many, so they land both inside
    // partitions and across sorted-partition boundaries — must throw
    val dup = df.union(df.limit(400)).repartition(5)
    val e = intercept[IllegalArgumentException] {
      GroupedPrefixSum.runningSum(dup, "cum", "v",
        Seq("grp"), Seq(col("id")), uniqueKeyCols = Seq("grp", "id"))
    }
    assert(e.getMessage.contains("duplicate"))
  }
}
