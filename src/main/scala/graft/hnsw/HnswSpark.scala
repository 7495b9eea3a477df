package graft.hnsw

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One persisted graph node of one partition-local sub-index. */
case class PartGraphRow(part: Int, id: Long, level: Int, vector: Array[Float],
    neighbors: Array[Array[Long]])

/** Index hyperparameters (mirrors the reference ctor surface,
  * src/main.ts:8-35, plus the two distributed knobs). */
case class HnswParams(
    m: Int = 16,
    efConstruction: Int = 200,
    efSearch: Int = -1, // -1 → efConstruction (back-compat default, src/main.ts:29)
    metric: String = "cosine",
    seed: Long = 42L,
    numPartitions: Int = 4) {
  def effectiveEfSearch: Int = if (efSearch < 0) efConstruction else efSearch
  require(m > 1, "M must be > 1")
}

/** Distributed HNSW: the reference's single in-memory graph
  * (src/main.ts:288-317) becomes P partition-local sub-indexes built
  * independently inside `mapPartitions` (shard-and-search). Queries fan
  * out to every shard and merge through a global per-query top-k — at
  * equal ef each shard searches a subset with full ef, so shard-merge
  * recall ≥ single-index recall.
  *
  * Scale design: the build never moves a vector twice (one hash-partition
  * shuffle, then executor-local inserts); queries broadcast (small probe
  * sets) so the graph side never shuffles, and nothing shuffles after the
  * search: each task's per-query top-k merges on the driver ([[ShardTopK]],
  * at most |queries|·P·k rows in flight). Partition count P is the
  * memory/recall knob: size P so rows/P·(d·4B + M·levels·8B) fits an
  * executor (SURVEY §7.4).
  */
/** O11 cluster-level build progress (SURVEY §2.1: the reference's
  * onProgress callback, src/main.ts:308-316 + tests/HNSW.test.ts:140-146,
  * surfaced at the Spark level): executors tick NAMED accumulators as each
  * partition-local build advances, so the driver (and the Spark UI, and
  * any SparkListener reading `taskInfo.accumulables`) sees live
  * rows-inserted counts during a long distributed build.
  *
  * `rows` carries the cumulative inserted-row count (delta-reported at
  * every callback, exact at completion); `ticks` counts callback firings —
  * one per `interval` inserts per partition plus one final partial, the
  * reference cadence. Standard accumulator-in-transformation caveat:
  * task retries / persisted-partition recomputes over-report — treat as
  * progress telemetry, not an exact meter. */
case class BuildProgress(
    rows: org.apache.spark.util.LongAccumulator,
    ticks: org.apache.spark.util.LongAccumulator,
    interval: Long)

object BuildProgress {
  def register(spark: SparkSession, interval: Long = 10000L): BuildProgress =
    BuildProgress(
      spark.sparkContext.longAccumulator("graft.hnsw.build.rows"),
      spark.sparkContext.longAccumulator("graft.hnsw.build.ticks"),
      interval)
}

object HnswIndexer {

  /** Build P sub-indexes from (id, vector) columns. Deterministic: level
    * draws are keyed on (seed, id), partition assignment is hash(id), and
    * inserts happen in ascending-id order within each partition.
    * Pass a [[BuildProgress]] to observe the build live from the driver. */
  def fit(df: DataFrame, params: HnswParams = HnswParams(),
      idCol: String = "vec_id", vecCol: String = "embedding",
      progress: Option[BuildProgress] = None): HnswModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = params
    val prog = progress
    val graph = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("vec"))
      .as[(Long, Array[Float])]
      .repartition(p.numPartitions, col("id"))
      .sortWithinPartitions("id")
      .mapPartitions { it =>
        val part = TaskContext.getPartitionId()
        val idx = new HnswIndex(p.m, p.efConstruction, -1, Metric(p.metric),
          Some(p.effectiveEfSearch), None, p.seed)
        prog match {
          case None => idx.buildIndex(it)
          case Some(bp) =>
            var last = 0L
            idx.buildIndex(it,
              onProgress = (i, _) => {
                bp.rows.add(i - last); last = i; bp.ticks.add(1)
              },
              progressInterval = bp.interval)
        }
        idx.toRows.map(r => PartGraphRow(part, r.id, r.level, r.vector, r.neighbors))
      }
    val persisted = graph.persist()
    new HnswModel(spark, p, persisted)
  }
}

/** Executor-side cache of rebuilt sub-indexes so repeated knnJoins don't
  * re-materialize the graph rows (per-JVM, keyed by modelId×part).
  *
  * Bounded: an access-ordered LRU capped at [[maxEntries]] sub-indexes, so
  * grid sweeps / streaming refreshes that fit many models cannot
  * accumulate graph copies in executor heap. [[HnswModel.unpersist]]
  * additionally evicts its own modelId's entries eagerly (best-effort on a
  * cluster via a foreachPartition job; the LRU bound is the safety net for
  * executors that job doesn't reach). */
private[hnsw] object SubIndexCache {
  // must exceed one model's partitions-per-executor or every knnJoin
  // rebuilds all shards (cache thrash)
  private val maxEntries = 128
  private val lru = new java.util.LinkedHashMap[String, HnswIndex](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, HnswIndex]): Boolean =
      size() > maxEntries
  }
  def get(key: String): HnswIndex = lru.synchronized(lru.get(key))
  def put(key: String, idx: HnswIndex): Unit = lru.synchronized { lru.put(key, idx); () }
  def evictModel(modelId: String): Unit = lru.synchronized {
    val it = lru.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(modelId + "/")) it.remove()
  }
  def size: Int = lru.synchronized(lru.size())
}

/** Executor-side PINNED sub-index store for streaming maintainers
  * ([[graft.streaming.IncrementalIndex]]): unlike [[SubIndexCache]] these
  * entries are mutable live state and must never be LRU-evicted — the
  * owning maintainer removes them explicitly via close(). */
private[graft] object SubIndexPin {
  private val pins = new java.util.concurrent.ConcurrentHashMap[String, HnswIndex]()
  // per-maintainer id -> cell registry: vector-routed ingest (the IVF
  // maintainer) needs cross-CELL duplicate detection — a changed vector
  // re-routes to a different cell, whose shard has never seen the id.
  // Same single-JVM visibility boundary as the pins themselves.
  private val idCells = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer]]()
  def get(key: String): HnswIndex = pins.get(key)
  def put(key: String, idx: HnswIndex): Unit = { pins.put(key, idx); () }
  def idRegistry(modelId: String): java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer] =
    idCells.computeIfAbsent(modelId,
      _ => new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer]())
  def evictModel(modelId: String): Unit = {
    pins.keySet().removeIf(_.startsWith(modelId + "/"))
    idCells.remove(modelId); ()
  }
}

class HnswModel(
    @transient val spark: SparkSession,
    val params: HnswParams,
    val graph: Dataset[PartGraphRow],
    val modelId: String = java.util.UUID.randomUUID().toString) extends Serializable {

  /** O12 distributed: approximate k-NN of each probe row.
    * Result: (query_id, neighbor_id, score, rank), rank ∈ [1,k] by
    * descending score with an id tie-break. Per-query efSearch override
    * preserved (reference src/main.ts:267, tests/HNSW.test.ts:69-79).
    *
    * EAGER: the call collects the probes, runs the search as one Spark job
    * (one task per graph partition, no exchange) and merges the per-shard
    * top-k lists on the driver ([[ShardTopK]]). The returned frame is a
    * local relation of at most probes × k rows; reading it runs no job. */
  def knnJoin(queries: DataFrame, k: Int, efSearchOverride: Option[Int] = None,
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame =
    search(queries, k, efSearchOverride, queryId, queryVec).toDF(graph.sparkSession)

  private def search(queries: DataFrame, k: Int, efSearchOverride: Option[Int],
      queryId: String, queryVec: String): ShardTopK.Result = {
    val (id, p, ef) = (modelId, params, efSearchOverride)
    ShardTopK.search(k, ShardTopK.probes(queries, queryId, queryVec))(_ => graph.rdd) {
      (rows, probes, hits) =>
        HnswModel.rebuild(id, rows, p).foreach { case (_, idx) =>
          probes.foreach { case (qid, qv) => hits.search(qid)(idx.searchKNN(qv, k, ef)) }
        }
    }
  }

  /** Large-probe-set variant: shard-and-search requires every shard to see
    * every query, so the probe set crosses the driver — this caps driver
    * memory by hash-batching the queries and unioning per-batch results.
    * (At truly huge probe cardinalities prefer the LSH/IVF pruned paths or
    * an index-per-query-partition replication strategy.) */
  def knnJoinBatched(queries: DataFrame, k: Int, efSearchOverride: Option[Int] = None,
      batchRows: Int = 100000,
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame =
    graft.operators.ProbeBatch.batched(queries, batchRows, queryId)(
      knnJoin(_, k, efSearchOverride, queryId, queryVec))

  /** knnJoin variant that also reports honest per-query search latency:
    * each shard times its searchKNN call; a query's latency is its
    * critical-path (max-over-shards) in-executor search time. Both come
    * from the same single job. Returns
    * (results, latencies(query_id, search_ms)). */
  def knnJoinTimed(queries: DataFrame, k: Int, efSearchOverride: Option[Int] = None,
      queryId: String = "query_id", queryVec: String = "query_vec")
      : (DataFrame, DataFrame) = {
    val res = search(queries, k, efSearchOverride, queryId, queryVec)
    (res.toDF(graph.sparkSession), res.latencies(graph.sparkSession))
  }

  /** O13/O15 save: graph parquet + params as a small JSON file.
    * `cellPartitioned = true` lays the graph out as one parquet directory
    * per `part` (= IVF cell for [[IvfHnsw]] models), so a probe-time
    * `part IN (...)` filter prunes whole files at the scan — the same
    * load-scale pruning the IVF-PQ codes parquet already has. */
  def save(path: String, cellPartitioned: Boolean = false): Unit = {
    val w = graph.write.mode("overwrite")
    (if (cellPartitioned) w.partitionBy("part") else w).parquet(s"$path/graph")
    val p = params
    val json =
      s"""{"m":${p.m},"efConstruction":${p.efConstruction},"efSearch":${p.efSearch},
         |"metric":"${p.metric}","seed":${p.seed},"numPartitions":${p.numPartitions},
         |"modelId":"$modelId"}""".stripMargin.replaceAll("\n", "")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/params.json"), true)
    out.write(json.getBytes("UTF-8")); out.close()
  }

  /** Release the cached graph AND evict this model's executor-side
    * sub-indexes. For a persisted graph the eviction job runs while the
    * graph is still cached (cheap, no rebuild) and reaches every executor
    * holding a graph partition. A lazily loaded graph is not cached, so a
    * job would re-read (or, after a delete, fail on) every graph file:
    * it gets no job. The driver-local evict covers local mode; the LRU
    * bound is the backstop elsewhere. */
  def unpersist(): Unit = {
    val id = modelId
    if (graph.storageLevel != StorageLevel.NONE)
      try graph.foreachPartition { (_: Iterator[PartGraphRow]) => SubIndexCache.evictModel(id) }
      catch { case _: Exception => () } // best-effort; LRU bound is the backstop
    SubIndexCache.evictModel(id)
    graph.unpersist()
    ()
  }
}

object HnswModel {
  /** Per-part meta derived from the rows: levelMax = max level;
    * entryPointId = first inserted node holding the max level, which under
    * ascending-id insertion is the min id at that level (promotion is
    * strict-increase only, src/main.ts:225-228). On the companion, so a
    * search task's closure captures no model: the model's graph Dataset
    * memoizes its RDD, which must not ship with every task. */
  private[hnsw] def rebuild(modelId: String, rows: Iterator[PartGraphRow],
      p: HnswParams): Iterator[(Int, HnswIndex)] = {
    // Streamed, cache-aware grouping: a part whose sub-index is already in
    // [[SubIndexCache]] is drained row-by-row without retaining anything,
    // so the warm path's cost is the scan alone — materializing the whole
    // Spark partition up front (the old rows.toArray) held multi-GB row
    // arrays live across the rebuild and thrashed GC once the cache filled
    // (measured: warm 100-probe wave 4x SLOWER than its cold first run at
    // 10M vectors). Cache-miss parts buffer only their own rows; buffers
    // are keyed by part id, so arbitrary part interleaving within a
    // partition (packed multi-file scans) still groups correctly.
    val hits = scala.collection.mutable.LinkedHashMap.empty[Int, HnswIndex]
    val misses = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[PartGraphRow]]
    rows.foreach { r =>
      if (!hits.contains(r.part)) misses.get(r.part) match {
        case Some(b) => b += r
        case None =>
          val cached = SubIndexCache.get(s"$modelId/${r.part}")
          if (cached != null) hits.put(r.part, cached)
          else {
            val b = new scala.collection.mutable.ArrayBuffer[PartGraphRow]
            b += r
            misses.put(r.part, b)
          }
      }
    }
    hits.iterator ++ misses.iterator.map { case (part, rs) =>
      val levelMax = rs.iterator.map(_.level).max
      val entry = rs.iterator.filter(_.level == levelMax).map(_.id).min
      val built = HnswSerde.fromRows(
        rs.iterator.map(r => HnswGraphRow(r.id, r.level, r.vector, r.neighbors)),
        p.m, p.efConstruction, Metric(p.metric), Some(p.effectiveEfSearch),
        p.seed, levelMax, entry)
      SubIndexCache.put(s"$modelId/$part", built)
      (part, built)
    }
  }

  /** O14/O15 load. Missing path → None (load-if-missing no-op semantics,
    * reference src/db.ts:72-74).
    * `eager = false` skips the persist: the graph stays a lazy scan (+
    * part-hash repartition, which still co-locates every cell's rows for
    * rebuild), so a downstream `part IN (...)` filter pushes down to the
    * parquet scan and a cell-partitioned layout prunes unprobed files —
    * the load-scale query path for [[IvfHnsw]]. */
  def load(spark: SparkSession, path: String, eager: Boolean = true): Option[HnswModel] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/params.json"))) return None
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/params.json"))
    val json = scala.io.Source.fromInputStream(in).mkString
    in.close()
    def num(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
    def str(k: String): String =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val params = HnswParams(num("m").toInt, num("efConstruction").toInt,
      num("efSearch").toInt, str("metric"), num("seed"), num("numPartitions").toInt)
    import spark.implicits._
    val graph0 = spark.read.parquet(s"$path/graph")
      // partitioned layouts surface `part` as the (last, int) partition
      // column; normalize order and type so the encoder shape is identical
      // to the flat layout
      .select(col("part").cast("int").as("part"), col("id"), col("level"),
        col("vector"), col("neighbors"))
      .as[PartGraphRow]
      .repartition(params.numPartitions, col("part"))
    val graph = if (eager) graph0.persist() else graph0
    Some(new HnswModel(spark, params, graph, str("modelId")))
  }

  /** O15 delete: drop the stored index (reference src/db.ts:92-100). */
  def delete(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }
}
