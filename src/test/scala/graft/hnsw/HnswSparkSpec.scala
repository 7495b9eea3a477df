package graft.hnsw

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.KnnJoin

class HnswSparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  def emb = spark.read.parquet(s"$dir/embeddings.parquet")
  def probes = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  test("distributed build + knnJoin achieves recall@10 >= 0.8 vs exact oracle (B6/B7)") {
    val model = HnswIndexer.fit(emb, HnswParams(m = 16, efConstruction = 200,
      numPartitions = 4))
    val approx = model.knnJoin(probes, k = 10, Some(100))
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine")
    val hits = approx.select("query_id", "neighbor_id")
      .intersect(exact.select("query_id", "neighbor_id")).count()
    val total = exact.count()
    val recall = hits.toDouble / total
    assert(total == 200)
    assert(recall >= 0.8, s"shard-merge recall@10 = $recall")
    model.unpersist()
  }

  test("unpersist evicts executor sub-index cache; LRU bounds total entries") {
    val before = SubIndexCache.size
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    model.knnJoin(probes.limit(2), k = 3).count() // populates the cache
    assert(SubIndexCache.size >= before)
    model.unpersist()
    // this model's entries are gone (local mode: driver JVM == executor JVM)
    assert(SubIndexCache.get(s"${model.modelId}/0") == null)
    assert(SubIndexCache.get(s"${model.modelId}/1") == null)
    // LRU bound: a sweep of many models cannot accumulate unboundedly
    (0 until 150).foreach(i => SubIndexCache.put(s"sweep-$i/0",
      new HnswIndex(4, 10, -1, Metric("cosine"), None, None, 1L)))
    assert(SubIndexCache.size <= 128)
    (0 until 150).foreach(i => SubIndexCache.evictModel(s"sweep-$i"))
  }

  test("distributed build progress: accumulators tick at the reference cadence (O11)") {
    // 500 rows, 1 partition, interval 100 → callbacks at 100..500 (5 ticks,
    // no final partial since 500 % 100 == 0); rows accumulator exact
    val bp = BuildProgress.register(spark, interval = 100L)
    val m1 = HnswIndexer.fit(emb, HnswParams(m = 8, efConstruction = 50,
      numPartitions = 1), progress = Some(bp))
    m1.graph.count() // force the (lazy, persisted) build
    assert(bp.rows.value == 500, s"rows = ${bp.rows.value}")
    assert(bp.ticks.value == 5, s"ticks = ${bp.ticks.value}")
    m1.unpersist()
    // multi-partition: per-partition cadence sums — rows still exact,
    // ticks = Σ_p (n_p / 100 + (1 if n_p % 100 != 0)); verify against the
    // actual hash-partition sizes
    val bp2 = BuildProgress.register(spark, interval = 100L)
    val m2 = HnswIndexer.fit(emb, HnswParams(m = 8, efConstruction = 50,
      numPartitions = 4), progress = Some(bp2))
    m2.graph.count()
    val sizes = m2.graph.groupBy("part").count().collect().map(_.getLong(1))
    val expectTicks = sizes.map(n => n / 100 + (if (n % 100 != 0) 1L else 0L)).sum
    assert(bp2.rows.value == 500, s"rows = ${bp2.rows.value}")
    assert(bp2.ticks.value == expectTicks,
      s"ticks = ${bp2.ticks.value}, expected $expectTicks (sizes ${sizes.mkString(",")})")
    m2.unpersist()
  }

  test("knnJoin output shape: k rows per query, ranked, scores descending") {
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    val res = model.knnJoin(probes.limit(3), k = 5).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.size == 3)
    byQ.values.foreach { rows =>
      assert(rows.length == 5)
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).toSeq == sorted.map(_.getDouble(2)).sortBy(-(_: Double)).toSeq)
    }
    model.unpersist()
  }

  test("save/load round-trip preserves knnJoin results; delete then load is None (O13-O15)") {
    val path = java.nio.file.Files.createTempDirectory("hnsw-model").toString
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    val before = model.knnJoin(probes.limit(5), k = 5)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    model.save(path)
    val loaded = HnswModel.load(spark, path)
    assert(loaded.isDefined)
    assert(loaded.get.params.m == model.params.m)
    val after = loaded.get.knnJoin(probes.limit(5), k = 5)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(before == after)
    HnswModel.delete(spark, path)
    assert(HnswModel.load(spark, path).isEmpty)
    model.unpersist()
  }

  test("knnJoinBatched matches knnJoin across hash batches") {
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    val whole = model.knnJoin(probes, k = 5)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    // 20 probes: 7 per batch → 3 hash batches; exactly batchRows (20) →
    // one batch; batchRows + 1 probes (19 per batch) → 2 hash batches
    Seq(7 -> 3, 20 -> 1, 19 -> 2).foreach { case (batchRows, batches) =>
      val batched = model.knnJoinBatched(probes, k = 5, batchRows = batchRows)
        .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      assert(whole == batched, s"batchRows = $batchRows")
      var joins = 0
      graft.operators.ProbeBatch.batched(probes, batchRows, "query_id") { q =>
        joins += 1; model.knnJoin(q, k = 5)
      }
      assert(joins == batches, s"batchRows = $batchRows ran $joins batches")
    }
    model.unpersist()
  }

  test("deterministic across rebuilds: same data, same params → same results") {
    val m1 = HnswIndexer.fit(emb, HnswParams(numPartitions = 3))
    val m2 = HnswIndexer.fit(emb, HnswParams(numPartitions = 3))
    val r1 = m1.knnJoin(probes, k = 10).select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val r2 = m2.knnJoin(probes, k = 10).select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(r1 == r2)
    m1.unpersist(); m2.unpersist()
  }

  test("IVF-HNSW: cell routing recall, all-cells == shard-and-search, round-trip") {
    import graft.operators.{KnnJoin, Recall}
    val model = IvfHnsw.fit(emb, numCells = 8,
      HnswParams(m = 8, efConstruction = 120, numPartitions = 8))
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10)
    // pruned probing (3 of 8 cells) keeps a useful recall floor (this
    // synthetic corpus clusters weakly, so the bar is the probe share
    // 3/8 clearly beaten, not production recall)
    val routed = IvfHnsw.knnJoin(model, probes, k = 10, nprobe = 3)
    val rec2 = Recall.microAvgRecall(routed, exact).select("recall").first().getDouble(0)
    assert(rec2 >= 0.55, s"nprobe=3 recall@10 = $rec2")
    // probing EVERY cell degenerates to shard-and-search over cell shards:
    // with ef >= cell size each sub-search is exhaustive → recall 1.0
    val all = IvfHnsw.knnJoin(model, probes, k = 10, nprobe = 8)
    val recAll = Recall.microAvgRecall(all, exact).select("recall").first().getDouble(0)
    assert(recAll == 1.0, s"all-cells recall@10 = $recAll")
    // determinism: a second fit reproduces the routed results exactly
    val model2 = IvfHnsw.fit(emb, numCells = 8,
      HnswParams(m = 8, efConstruction = 120, numPartitions = 8))
    val routed2 = IvfHnsw.knnJoin(model2, probes, k = 10, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(routed2 ==
      routed.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet)
    // persistence round-trip preserves routed results; delete → None
    val path = java.nio.file.Files.createTempDirectory("ivfhnsw").toString + "/m"
    IvfHnsw.save(model, path)
    val loaded = IvfHnsw.load(spark, path).get
    val routed3 = IvfHnsw.knnJoin(loaded, probes, k = 10, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(routed3 == routed2)
    IvfHnsw.delete(spark, path)
    assert(IvfHnsw.load(spark, path).isEmpty)
    model.unpersist(); model2.unpersist(); loaded.unpersist()
  }

  test("IVF-HNSW: identity partitioning — one cell per build partition") {
    // the proxy-pid repartition must land cell c alone in partition c;
    // if a Spark version changes the hash this only costs balance (the
    // per-cell grouping keeps results correct), and this spec flags it
    val model = IvfHnsw.fit(emb, numCells = 8,
      HnswParams(m = 8, efConstruction = 120, numPartitions = 8))
    val cellsPerPart = model.hnsw.graph.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        Iterator.single(pid -> it.map(_.part).toSet)
      }.collect().toMap
    assert(cellsPerPart.values.forall(_.size <= 1),
      s"a build partition holds >1 cell: $cellsPerPart")
    // and the mapping is identity: cell c sits in partition c
    cellsPerPart.foreach { case (pid, cells) =>
      cells.foreach(c => assert(c == pid, s"cell $c landed in partition $pid"))
    }
    model.unpersist()
  }

  test("IVF-HNSW: executor-side routing == driver-side centroid ranking") {
    val s = spark; import s.implicits._
    val model = IvfHnsw.fit(emb, numCells = 8,
      HnswParams(m = 8, efConstruction = 120, numPartitions = 8))
    val routed = IvfHnsw.routeProbes(model, probes, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2).toSeq).toMap
    // the pre-r5 driver loop, verbatim: Metric.sim per (probe, centroid),
    // NaN → -1.0, (score desc, cell asc) total order
    val metric = Metric(model.hnsw.params.metric)
    val reference = probes
      .select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
      .as[(Long, Array[Float])].collect().map { case (qid, qv) =>
        qid -> model.centroids.map { case (c, cent) =>
          val sim = metric.sim(qv, cent)
          (if (java.lang.Double.isNaN(sim)) -1.0 else sim, c)
        }.sortBy { case (sc, c) => (-sc, c) }.take(3).map(_._2).toSeq
      }.toMap
    assert(routed == reference)
    model.unpersist()
  }

  test("IVF-HNSW: knnJoinBatched matches knnJoin across hash batches") {
    val model = IvfHnsw.fit(emb, numCells = 8,
      HnswParams(m = 8, efConstruction = 120, numPartitions = 8))
    val whole = IvfHnsw.knnJoin(model, probes, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val batched = IvfHnsw.knnJoinBatched(model, probes, k = 5, nprobe = 3, batchRows = 7)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(whole == batched)
    model.unpersist()
  }

  test("IVF-HNSW: loaded model reads only the probed cells' files") {
    val s = spark; import s.implicits._
    val model = IvfHnsw.fit(emb, numCells = 8,
      HnswParams(m = 8, efConstruction = 120, numPartitions = 8))
    val path = java.nio.file.Files.createTempDirectory("ivfhnsw_prune").toString + "/m"
    IvfHnsw.save(model, path)
    val loaded = IvfHnsw.load(spark, path).get
    // a local probe, so the only file reads of the search are the graph's
    val oneProbe = probes.limit(1)
      .select(col("query_id").cast("long"), col("query_vec"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "query_vec")
    val probedCells = IvfHnsw.routeProbes(loaded, oneProbe, nprobe = 2)
      .collect().flatMap(_.getSeq[Int](2)).toSet
    assert(probedCells.size == 2)
    // the search runs eagerly inside knnJoin and returns a local relation,
    // so its scan is observed through the rows its tasks read
    val read = new java.util.concurrent.atomic.AtomicLong()
    org.apache.spark.ListenerBusDrain.listening(spark.sparkContext,
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
      })(IvfHnsw.knnJoin(loaded, oneProbe, k = 5, nprobe = 2).collect())
    val graph = spark.read.parquet(s"$path/hnsw/graph")
    def rowsUnder(cells: Set[Int]): Long = graph.filter(col("part").isin(cells.toSeq: _*)).count()
    assert(rowsUnder((0 until 8).toSet) > rowsUnder(probedCells),
      "fixture degenerate: probed cells hold every row")
    assert(read.get == rowsUnder(probedCells),
      s"scan read ${read.get} rows, expected only the ${probedCells.size} probed cells'")
    model.unpersist(); loaded.unpersist()
    IvfHnsw.delete(spark, path)
  }

  test("shard top-k merge equals the row_number window on the same candidates") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = 3
    val zero = Array.fill(4)(0f)
    val unit = Array(1f, 0f, 0f, 0f)
    val nan = Metric("cosine").sim(zero, unit) // zero-norm cosine → NaN
    assert(nan.isNaN)
    // shard → query → hits, in no particular order
    val shards: Seq[Seq[(Long, Array[(Long, Double)])]] = Seq(
      Seq(1L -> Array(10L -> 0.5, 11L -> 0.9),
        2L -> Array(9L -> nan, 4L -> nan),
        3L -> Array(20L -> nan, 21L -> -0.0)),
      Seq(1L -> Array(12L -> 0.9, 5L -> 0.5),
        2L -> Array(2L -> nan, 8L -> nan),
        3L -> Array(19L -> 0.0, 22L -> -0.5)),
      Seq(1L -> Array(7L -> 0.5, 3L -> 0.1),
        2L -> Array(6L -> nan),
        3L -> Array(23L -> 0.3, 18L -> -0.0)))
    // equal scores across shards (q1), a zero-norm query scoring NaN
    // against everything (q2), and NaN, -0.0 and 0.0 beside finite
    // scores (q3); two of the three shards share a task
    val got = ShardTopK.search(k, ())(_ => spark.sparkContext.parallelize(shards, 2)) {
      (it, _, hits) => it.foreach(_.foreach { case (q, hs) => hits.search(q)(hs) })
    }.toDF(spark)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val reference = shards.flatten.flatMap { case (q, hs) => hs.map { case (id, sc) => (q, id, sc) } }
      .toDF("query_id", "neighbor_id", "score")
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      .sorted.toSeq
    assert(rows(got) == rows(reference))
    assert(got.schema == reference.schema)
    // the order the window gives, spelled out
    assert(got.filter(col("query_id") === 3).orderBy("rank").select("neighbor_id")
      .as[Long].collect().toSeq == Seq(20L, 23L, 18L))
    assert(got.filter(col("query_id") === 2).orderBy("rank").select("neighbor_id")
      .as[Long].collect().toSeq == Seq(2L, 4L, 6L))
  }

  test("k <= 0 throws on every shard-and-search path") {
    import graft.streaming.{IncrementalIndex, IncrementalIvfIndex}
    val small = emb.filter(col("vec_id") < 100)
    val hnsw = HnswIndexer.fit(small, HnswParams(m = 8, efConstruction = 50, numPartitions = 2))
    val ivf = IvfHnsw.fit(small, numCells = 2, HnswParams(m = 8, efConstruction = 50))
    val inc = new IncrementalIndex(spark, HnswParams(m = 8, efConstruction = 50, numPartitions = 2))
    inc.processBatch(small.select("vec_id", "embedding"), 0L)
    val incIvf = IncrementalIvfIndex.fromModel(spark, ivf)
    incIvf.processBatch(small.select("vec_id", "embedding"), 0L)
    val q = probes.limit(2)
    val paths: Seq[(String, Int => Unit)] = Seq(
      "HnswModel" -> (k => hnsw.knnJoin(q, k)),
      "IvfHnsw" -> (k => IvfHnsw.knnJoin(ivf, q, k)),
      "IncrementalIndex" -> (k => inc.knnJoin(q, k)),
      "IncrementalIvfIndex" -> (k => incIvf.knnJoin(q, k)))
    for ((name, run) <- paths; k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](run(k))
      assert(e.getMessage.contains("k must be positive"), s"$name, k = $k: ${e.getMessage}")
    }
    inc.close(); incIvf.close(); hnsw.unpersist(); ivf.unpersist()
  }

  test("a warm single-query knnJoin plus collect runs 1 Spark job") {
    val s = spark; import s.implicits._
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 4))
    val v = emb.filter(col("vec_id") === 3).select("embedding").as[Array[Float]].head()
    val q = Seq((3L, v)).toDF("query_id", "query_vec")
    def query() = model.knnJoin(q, k = 10).collect()
    assert(query().length == 10)
    val jobs = org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(query())
    assert(jobs == 1, s"$jobs jobs for one warm single-query knnJoin")
    model.unpersist()
  }

  test("knnJoin with a probe of the wrong dimension fails with the kernel's message") {
    val s = spark; import s.implicits._
    val model = HnswIndexer.fit(emb, HnswParams(numPartitions = 2))
    val v = emb.filter(col("vec_id") === 3).select("embedding").as[Array[Float]].head()
    val half = Seq((3L, v.take(v.length / 2))).toDF("query_id", "query_vec")
    val e = intercept[Exception](model.knnJoin(half, k = 5).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(
      s"searchKNN: dimension mismatch, ${v.length / 2} vs ${v.length}")),
      msgs.mkString("\n"))
    model.unpersist()
  }

  test("unpersist of a lazily loaded model after delete runs no job and evicts its sub-indexes") {
    val model = IvfHnsw.fit(emb, numCells = 4,
      HnswParams(m = 8, efConstruction = 60, numPartitions = 4))
    val path = java.nio.file.Files.createTempDirectory("ivfhnsw_unpersist").toString + "/m"
    IvfHnsw.save(model, path)
    model.unpersist()
    val loaded = IvfHnsw.load(spark, path).get
    val id = loaded.hnsw.modelId
    def cached: Seq[Int] = (0 until 4).filter(c => SubIndexCache.get(s"$id/$c") != null)
    assert(IvfHnsw.knnJoin(loaded, probes, k = 5, nprobe = 4).collect().nonEmpty)
    assert(cached.nonEmpty, "the query cached no sub-index")
    IvfHnsw.delete(spark, path)
    val jobs = org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(loaded.unpersist())
    assert(jobs == 0, s"$jobs jobs to unpersist a lazily loaded model")
    assert(cached.isEmpty, s"cells ${cached.mkString(",")} still cached")
  }
}
