package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.hnsw.HnswParams
import graft.operators.KnnJoin

class IncrementalIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  test("IVF-cell incremental ingest: routed queries, batch-servable snapshot") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    import graft.hnsw.IvfHnsw
    // freeze the quantizer on a batch fit, stream the corpus in 3 batches
    val params = HnswParams(m = 16, efConstruction = 200, efSearch = 300)
    val batchModel = IvfHnsw.fit(emb, numCells = 4, params)
    val maintainer = IncrementalIvfIndex.fromModel(spark, batchModel)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch(maintainer.processBatch _).start()
    val all = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    all.grouped(math.max(all.length / 3, 1)).foreach { b =>
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    assert(maintainer.indexedCount() == all.length)

    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10)
    // all-cells probing with ef >= cell size degenerates to exhaustive
    val allCells = maintainer.knnJoin(probes, k = 10, nprobe = 4)
    val recAll = graft.operators.Recall.microAvgRecall(allCells, exact)
      .select("recall").first().getDouble(0)
    assert(recAll == 1.0, s"all-cells recall@10 = $recAll")
    // pruned probing keeps a useful floor (cells are frozen-quantizer)
    val routed = maintainer.knnJoin(probes, k = 10, nprobe = 2)
    val rec2 = graft.operators.Recall.microAvgRecall(routed, exact)
      .select("recall").first().getDouble(0)
    assert(rec2 >= 0.55, s"nprobe=2 recall@10 = $rec2")

    // snapshot writes the IvfHnsw layout: load + probe WITHOUT conversion
    val tmp = java.nio.file.Files.createTempDirectory("incivf").toString + "/m"
    maintainer.snapshot(tmp)
    val served = IvfHnsw.load(spark, tmp).get
    val servedRes = IvfHnsw.knnJoin(served, probes, k = 10, nprobe = 2)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val liveRes = routed
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(servedRes == liveRes,
      "batch-served snapshot must reproduce the live pinned-shard results")
    IvfHnsw.delete(spark, tmp)
    maintainer.close()
    assert(maintainer.indexedCount() == 0)
    batchModel.unpersist()
  }

  test("foreachBatch ingest: incremental inserts, no refit, exactness probes") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val maintainer = new IncrementalIndex(spark,
      HnswParams(m = 16, efConstruction = 200, numPartitions = 2))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDS().toDF("vec_id", "embedding").writeStream
      .foreachBatch(maintainer.processBatch _).start()
    val all = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val (batch1, batch2) = all.splitAt(all.length / 2)
    mem.addData(batch1.toIndexedSeq)
    q.processAllAvailable()
    assert(maintainer.indexedCount() == batch1.length)
    mem.addData(batch2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(maintainer.indexedCount() == all.length)

    // recall vs the exact oracle over everything ingested so far
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val approx = maintainer.knnJoin(probes, k = 10, Some(100))
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10)
    val hits = approx.select("query_id", "neighbor_id")
      .intersect(exact.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / exact.count()
    assert(recall >= 0.8, s"incremental shard recall@10 = $recall")

    // snapshot persists the live shards in HnswModel graph layout
    val tmp = java.nio.file.Files.createTempDirectory("incidx").toString
    maintainer.snapshot(tmp)
    val rows = spark.read.parquet(s"$tmp/graph")
    assert(rows.count() == all.length)
    assert(rows.select("part").distinct().count() == 2)

    maintainer.close()
    assert(maintainer.indexedCount() == 0)

    // restore from the snapshot: counts and search quality recover
    val restored = IncrementalIndex.restore(spark, tmp,
      HnswParams(m = 16, efConstruction = 200, numPartitions = 2))
    assert(restored.indexedCount() == all.length)
    val approx2 = restored.knnJoin(probes, k = 10, Some(100))
    val hits2 = approx2.select("query_id", "neighbor_id")
      .intersect(exact.select("query_id", "neighbor_id")).count()
    assert(hits2.toDouble / exact.count() >= 0.8)
    // and the restored maintainer keeps ingesting (idempotent on replays)
    restored.processBatch(emb.select("vec_id", "embedding"), 99L)
    assert(restored.indexedCount() == all.length)
    restored.close()
  }

  test("upsert contract: replay is free, changed vectors are APPLIED " +
      "(in place and across cells), shard loss fails loudly, batched " +
      "probes are exact") {
    import spark.implicits._
    import graft.hnsw.IvfHnsw
    val params = HnswParams(m = 16, efConstruction = 200, efSearch = 300)
    val batchModel = IvfHnsw.fit(emb, numCells = 4, params)
    val maintainer = IncrementalIvfIndex.fromModel(spark, batchModel)
    val base = emb.select(col("vec_id"), col("embedding"))
    maintainer.processBatch(base, 0L)
    val n = base.count()
    assert(maintainer.ingestedCount == n)
    assert(maintainer.appliedUpdateCount == 0)

    // identical replay: no new inserts, no applied updates (idempotence)
    maintainer.processBatch(base, 1L)
    assert(maintainer.ingestedCount == n)
    assert(maintainer.appliedUpdateCount == 0)

    // scaled embeddings (×2): same cosine direction → SAME cell, the
    // in-place re-link path; byte-different, so they must be applied
    val scaled = base.filter(col("vec_id") < 5)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f)))
    maintainer.processBatch(scaled, 2L)
    assert(maintainer.ingestedCount == n)
    assert(maintainer.appliedUpdateCount == 5)
    assert(maintainer.indexedCount() == n, "updates must not change live count")

    // negated embeddings: opposite direction → (usually) a different
    // cell, the tombstone-and-move path; the registry re-homes the id
    val negated = base.filter(col("vec_id") >= 5 && col("vec_id") < 10)
      .withColumn("embedding", transform(col("embedding"), x => -x))
      .cache()
    maintainer.processBatch(negated, 3L)
    assert(maintainer.ingestedCount == n)
    assert(maintainer.appliedUpdateCount == 10)
    assert(maintainer.indexedCount() == n, "moves must not change live count")

    // replaying the update batch is also free (vectors now identical)
    maintainer.processBatch(negated, 4L)
    assert(maintainer.appliedUpdateCount == 10)
    assert(maintainer.indexedCount() == n)

    // exhaustive serving (all cells, ef >= cell size) must EXACTLY match
    // the brute-force scan over the UPDATED corpus — moved vectors found
    // at their new location, old locations forgotten
    val updatedCorpus = base.filter(col("vec_id") >= 10)
      .unionByName(base.filter(col("vec_id") < 5)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f))))
      .unionByName(negated)
    val updProbes = negated
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val servedDf = maintainer.knnJoin(updProbes, k = 10, nprobe = 4).cache()
    val served = servedDf
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val exactUpd = KnnJoin.exactKnnJoin(updatedCorpus, updProbes, k = 10)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    assert(served == exactUpd,
      "exhaustive probe must serve the updated corpus exactly")
    // each negated vector is its own nearest neighbor — impossible
    // unless the update actually moved it
    val top1 = servedDf.filter(col("rank") === 1).collect()
    assert(top1.length == 5 && top1.forall(r => r.getLong(0) == r.getLong(1)))
    servedDf.unpersist()

    // snapshot after moves: tombstones are PURGED at serialization (live
    // rows only, dangling edges stripped), so the batch-served layout
    // reproduces the live updated results exactly
    val snapDir = java.nio.file.Files.createTempDirectory("incivf-upd").toString + "/m"
    maintainer.snapshot(snapDir)
    val servedModel = IvfHnsw.load(spark, snapDir).get
    assert(servedModel.hnsw.graph.count() == n,
      "snapshot must hold exactly the live corpus — no tombstones")
    val snapRes = IvfHnsw.knnJoin(servedModel, updProbes, k = 10, nprobe = 4)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    assert(snapRes == exactUpd,
      "snapshot-served results must match the exact scan over the updated corpus")
    IvfHnsw.delete(spark, snapDir)
    negated.unpersist()

    // batched probe path returns exactly the unbatched result set
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val whole = maintainer.knnJoin(probes, k = 10, nprobe = 2)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val batched = maintainer.knnJoin(probes, k = 10, nprobe = 2, batchRows = 7)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(batched == whole)

    // shard loss (close drops every pinned shard) must fail loudly, not
    // serve partial results or persist a partial snapshot
    maintainer.close()
    val eKnn = intercept[IllegalStateException] {
      maintainer.knnJoin(probes, k = 10, nprobe = 2).count()
    }
    assert(eKnn.getMessage.contains("knnJoin"))
    val tmp = java.nio.file.Files.createTempDirectory("incivf-guard").toString
    val eSnap = intercept[IllegalStateException] { maintainer.snapshot(s"$tmp/m") }
    assert(eSnap.getMessage.contains("snapshot"))

    // plain IncrementalIndex shares the guard
    val plain = new IncrementalIndex(spark,
      HnswParams(m = 16, efConstruction = 200, numPartitions = 2))
    plain.processBatch(base, 0L)
    assert(plain.ingestedCount == n)
    plain.close()
    intercept[IllegalStateException] { plain.knnJoin(probes, k = 10).count() }
    batchModel.unpersist()
  }

  test("a 100-probe knnJoin plus collect runs 1 Spark job") {
    import spark.implicits._
    val maintainer = new IncrementalIndex(spark,
      HnswParams(m = 16, efConstruction = 100, numPartitions = 4))
    maintainer.processBatch(emb.select("vec_id", "embedding"), 0L)
    val q = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "query_vec")
    def query() = maintainer.knnJoin(q, k = 10).collect()
    assert(query().length == 1000)
    val jobs = org.apache.spark.ListenerBusDrain.jobsDuring(spark.sparkContext)(query())
    assert(jobs == 1, s"$jobs jobs for one 100-probe knnJoin")
    maintainer.close()
  }

  test("plain maintainer upsert: in-place updates served, replay free") {
    import spark.implicits._
    val maintainer = new IncrementalIndex(spark,
      HnswParams(m = 16, efConstruction = 200, efSearch = 300, numPartitions = 2))
    val base = emb.select(col("vec_id"), col("embedding"))
    maintainer.processBatch(base, 0L)
    val n = base.count()
    assert(maintainer.ingestedCount == n && maintainer.appliedUpdateCount == 0)

    val negated = base.filter(col("vec_id") < 5)
      .withColumn("embedding", transform(col("embedding"), x => -x))
      .cache()
    maintainer.processBatch(negated, 1L)
    assert(maintainer.appliedUpdateCount == 5)
    assert(maintainer.indexedCount() == n, "in-place update keeps live count")
    maintainer.processBatch(negated, 2L)
    assert(maintainer.appliedUpdateCount == 5, "replay applies nothing")

    // every updated vector is served at its NEW location, rank 1
    val probes = negated
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top1 = maintainer.knnJoin(probes, k = 5, Some(300))
      .filter(col("rank") === 1).collect()
    assert(top1.length == 5 && top1.forall(r => r.getLong(0) == r.getLong(1)),
      "updated vectors must be their own nearest neighbors")
    negated.unpersist()
    maintainer.close()
  }

  test("compaction: growth-keyed trigger, quantizer refit over the indexed " +
      "corpus, streamed updates carried through") {
    import spark.implicits._
    import graft.hnsw.IvfHnsw
    val params = HnswParams(m = 16, efConstruction = 200, efSearch = 300)
    // quantizer fitted on HALF the corpus; ingesting all of it puts the
    // growth ratio at exactly 2.0
    val half = emb.filter(col("vec_id") < 250).select("vec_id", "embedding")
    val batchModel = IvfHnsw.fit(half, numCells = 4, params)
    val maintainer = IncrementalIvfIndex.fromModel(spark, batchModel)
    batchModel.unpersist()
    val base = emb.select(col("vec_id"), col("embedding"))
    maintainer.processBatch(base, 0L)
    assert(maintainer.growthSinceFit.exists(g => math.abs(g - 2.0) < 1e-9))
    assert(maintainer.needsCompaction(2.0) && !maintainer.needsCompaction(2.5))
    assert(maintainer.currentVectors().count() == maintainer.indexedCount())
    // describe(): the executor-resident fleet row tracks the same state
    val dRow = maintainer.describe(2.0).collect()
    assert(dRow.length == 1)
    assert(dRow(0).getAs[String]("store_kind") == "incremental_ivf_pinned")
    assert(dRow(0).getAs[Long]("live_rows") == maintainer.indexedCount())
    assert(math.abs(dRow(0).getAs[Double]("growth_since_fit") - 2.0) < 1e-9)
    assert(dRow(0).getAs[Boolean]("needs_compaction"))
    assert(dRow(0).getAs[String]("detail").contains("cells=4"))

    // deliver CHANGED embeddings (negated) for 5 ids — applied LIVE
    // (cross-cell moves through the id registry, no duplicate ids)
    val changed = base.filter(col("vec_id") < 5)
      .withColumn("embedding", transform(col("embedding"), x => -x))
      .cache()
    maintainer.processBatch(changed, 1L)
    assert(maintainer.appliedUpdateCount == 5)
    assert(maintainer.indexedCount() == base.count())
    // currentVectors carries the UPDATED vectors (tombstones excluded),
    // so a plain compact() refits over the post-update corpus
    assert(maintainer.currentVectors().count() == base.count())

    // compact WITHOUT an updates argument: the streamed updates are
    // already in the indexed corpus, so the plain refit must carry them
    // (the `updates` param remains for external corrections)
    val compacted = maintainer.compact()
    val merged = base.filter(col("vec_id") >= 5).unionByName(changed)
    assert(compacted.hnsw.graph.count() == base.count())
    // all-cells probing with ef >= cell size is exhaustive, so the
    // compacted model must EXACTLY reproduce the exact scan over the
    // merged corpus — updated vectors included
    val probes = changed
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val gotDf = IvfHnsw.knnJoin(compacted, probes, k = 10, nprobe = 4).cache()
    val got = gotDf
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val exact = graft.operators.KnnJoin.exactKnnJoin(merged, probes, k = 10)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    assert(got == exact,
      "compacted index must serve the UPDATED vectors exactly (all-cells probe)")
    // each updated vector is its own nearest neighbor — impossible unless
    // the update actually replaced the indexed (negated-away) original
    val top1 = gotDf.filter(col("rank") === 1).collect()
    assert(top1.length == 5 && top1.forall(r => r.getLong(0) == r.getLong(1)))
    gotDf.unpersist()

    // the next epoch starts with a reset growth trigger
    val next = IncrementalIvfIndex.fromModel(spark, compacted)
    assert(next.growthSinceFit.isEmpty || !next.needsCompaction(1.5))
    maintainer.close()
    changed.unpersist()
    compacted.unpersist()
  }

  test("epoch handoff: merged serving of the compacted batch model plus the " +
      "live maintainer equals the exact scan over old + new together") {
    import spark.implicits._
    import graft.hnsw.IvfHnsw
    val params = HnswParams(m = 16, efConstruction = 200, efSearch = 300)
    // "old" epoch: first 400 vectors live in the batch model (as if
    // produced by compact()); "new" arrivals stream into a fresh
    // maintainer sharing its frozen centroids
    val old = emb.filter(col("vec_id") < 400).select("vec_id", "embedding")
    val fresh = emb.filter(col("vec_id") >= 400).select("vec_id", "embedding")
    val batchModel = IvfHnsw.fit(old, numCells = 4, params)
    val maintainer = IncrementalIvfIndex.fromModel(spark, batchModel)
    maintainer.processBatch(fresh, 0L)
    assert(maintainer.indexedCount() == fresh.count())

    // probes from BOTH epochs; all-cells + ef >= cell size = exhaustive,
    // so the merged top-k must equal the exact scan over the full corpus
    val probes = emb.filter(col("vec_id") < 10 ||
        (col("vec_id") >= 400 && col("vec_id") < 410))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val merged = maintainer.knnJoinMerged(batchModel, probes, k = 10, nprobe = 4)
    val exact = graft.operators.KnnJoin.exactKnnJoin(emb, probes, k = 10)
    val got = merged.select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    val want = exact.select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    assert(got == want,
      "merged batch+live serving must reproduce the exact scan over old+new")
    maintainer.close()
    batchModel.unpersist()
  }
}
