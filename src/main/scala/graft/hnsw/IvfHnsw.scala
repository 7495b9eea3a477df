package graft.hnsw

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.similarity
import graft.operators.IvfFlat

/** Hybrid IVF→HNSW: coarse cells route queries, per-cell HNSW sub-graphs
  * answer them — the composition that makes graph ANN sublinear on a
  * cluster.
  *
  * Plain distributed HNSW ([[HnswIndexer]]) shards arbitrarily by
  * hash(id), so EVERY query must search EVERY shard (shard-and-search);
  * per-query work grows with the shard count, i.e. linearly with corpus
  * size at fixed shard memory. Here the shards are IVF cells
  * ([[IvfFlat.fit]]'s deterministic coarse quantizer): a query ranks the
  * C centroids (driver-side, C is small by construction) and searches
  * only its `nprobe` nearest cells' sub-graphs — per-query work is
  * nprobe/C of the corpus regardless of C, the same pruning that makes
  * [[graft.operators.IvfPq]] scale, but with graph-quality candidate
  * generation inside each cell instead of a flat code scan.
  *
  * Build cost equals plain HNSW build (one shuffle on the cell key, then
  * executor-local inserts in ascending-id order — deterministic); the
  * graph rows reuse [[PartGraphRow]] with part = cell id, so the
  * executor-side [[SubIndexCache]], persistence format, and
  * [[HnswModel]]'s save/load all apply unchanged.
  */
object IvfHnsw {

  /** `hnsw.graph` holds one sub-index per CELL (part = cell id). */
  case class Model(centroids: Array[(Int, Array[Float])], hnsw: HnswModel) {
    def unpersist(): Unit = hnsw.unpersist()
  }

  /** Cell-partitioned build: assign cells with the SEARCH metric (a
    * mismatched assignment strands true neighbors in never-probed cells),
    * then build one deterministic HNSW per cell.
    *
    * `balanceSlack` defaults OFF (0.0, pure nearest-centroid assignment):
    * a nonzero default silently changes cell assignments — and therefore
    * exact result sets and determinism baselines — for every existing
    * caller on skewed corpora (ADVICE round 5). Opt IN to 0.2 on
    * clustered corpora: the size cap bounds the straggler cell builder
    * and the hottest probe shard (cut the 1M clustered build 2.8x at
    * unchanged recall, BASELINE.md round 5); on balanced (uniform)
    * corpora the cap never binds so 0.2 ≡ 0.0. */
  def fit(df: DataFrame, numCells: Int = 8,
      params: HnswParams = HnswParams(),
      idCol: String = "vec_id", vecCol: String = "embedding",
      balanceSlack: Double = 0.0): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = params
    // balanceSlack > 0 caps cell sizes (IvfFlat.assignBalanced), bounding
    // the slowest per-cell builder and the hottest probe shard
    val ivf = IvfFlat.fit(df, numCells, p.seed, idCol, vecCol,
      metric = p.metric, balanceSlack = balanceSlack)
    // IDENTITY partitioning — cell c builds in partition c, exactly one
    // cell per task. The obvious `repartition(numCells, col("cell"))`
    // hash-collides ~2-3 cells into one partition while others sit empty
    // (measured: the straggler task serializes 2-3 graph builds, the bulk
    // of the hybrid's build-cost gap vs plain HNSW, whose hash(id) shards
    // are uniform by construction). To keep the Tungsten shuffle (an RDD
    // partitionBy would Java-serialize every vector), repartition on a
    // PROXY int per cell, chosen driver-side so Catalyst's hash
    // partitioner — pmod(murmur3(pid, 42), C) — maps cell c exactly to
    // partition c. The per-cell groupBy below stays as the correctness
    // safety net (a Spark version changing the hash only costs balance).
    // Insertion order inside each cell stays ascending-id, so the graph
    // is bit-identical to the hash-parted one.
    val pidFor: Array[Int] = {
      val found = new Array[Int](numCells)
      val seen = new Array[Boolean](numCells)
      var remaining = numCells
      var x = 0
      while (remaining > 0 && x < Int.MaxValue) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
        val part = ((h % numCells) + numCells) % numCells
        if (!seen(part)) { seen(part) = true; found(part) = x; remaining -= 1 }
        x += 1
      }
      found
    }
    val graph = ivf.assigned
      .select(col("cell"), col("id"), col("vec"))
      .withColumn("pid", element_at(typedlit(pidFor.toSeq), col("cell") + 1))
      .repartition(numCells, col("pid"))
      .sortWithinPartitions("cell", "id")
      .select(col("cell"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (cell, rows) =>
          val idx = new HnswIndex(p.m, p.efConstruction, -1, Metric(p.metric),
            Some(p.effectiveEfSearch), None, p.seed)
          idx.buildIndex(rows.iterator.map { case (_, id, v) => (id, v) })
          idx.toRows.map(r => PartGraphRow(cell, r.id, r.level, r.vector, r.neighbors))
        }
      }
    val persisted = graph.persist()
    persisted.count()
    // quantizer assignment fully consumed by the materialized graph —
    // release its cache (IvfPq/IvfBq.fit do the same)
    ivf.release()
    Model(ivf.centroids, new HnswModel(spark, p, persisted))
  }

  /** Executor-side probe routing: each query's `nprobe` nearest cells as a
    * DataFrame projection against broadcast-literal centroids — the
    * codegen'd similarity kernel does the O(|Q|·C) ranking in parallel on
    * the cluster instead of serialized on the driver. NaN-guarded
    * (zero-norm queries pin to -1.0) with the (score desc, cell asc) total
    * order the driver-loop routing used.
    * Returns (query_id, qvec, cells: array<int>). */
  def routeProbes(model: Model, queries: DataFrame, nprobe: Int,
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame =
    routeProbes(model.centroids, model.hnsw.params.metric, queries, nprobe,
      queryId, queryVec)

  /** Centroid-literal form of [[routeProbes]] — shared with the streaming
    * maintainer ([[graft.streaming.IncrementalIvfIndex]]), whose frozen
    * quantizer is a bare centroid array rather than a fitted model. */
  def routeProbes(centroids: Array[(Int, Array[Float])], metric: String,
      queries: DataFrame, nprobe: Int,
      queryId: String, queryVec: String): DataFrame = {
    // (score desc, cell ASC) — the struct(-s, c) ascending-sort order the
    // literal form produced, via the O(1)-codegen scorer expression
    // (graft.functions.CellScorer; see IvfFlat.assign for the why)
    queries
      .select(col(queryId).cast("long").as("query_id"),
        col(queryVec).cast("array<float>").as("qvec"))
      .withColumn("cells",
        graft.functions.cells.nearest_cells(col("qvec"), centroids, metric,
          n = nprobe, tieCellDesc = false))
  }

  /** Cell-routed search: rank centroids per query executor-side
    * ([[routeProbes]]), search the `nprobe` nearest cells' sub-graphs only,
    * merge the per-cell top-k lists on the driver ([[ShardTopK]]). The
    * routed probe set crosses the driver only as an opaque
    * collect-and-broadcast (the shard-and-search contract,
    * HnswModel.knnJoin) — no per-probe driver compute; cap driver heap for
    * large probe sets via [[knnJoinBatched]].
    *
    * EAGER, like [[HnswModel.knnJoin]]: the search runs inside the call as
    * one job over the probed cells, and the result is a local relation of
    * at most probes × k rows. */
  def knnJoin(model: Model, queries: DataFrame, k: Int, nprobe: Int = 2,
      efSearchOverride: Option[Int] = None,
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    require(nprobe > 0)
    val hnsw = model.hnsw
    val (id, p, ef) = (hnsw.modelId, hnsw.params, efSearchOverride)
    ShardTopK.search(k, probesByCell(model.centroids, p.metric, queries, nprobe,
        queryId, queryVec)) { byCell =>
      // partition pruning: untouched cells never rebuild or search (and
      // with cell-partitioned persistence, their files are never read —
      // the filter pushes below the load-time repartition to the scan)
      hnsw.graph.filter(col("part").isin(byCell.keys.toSeq: _*)).rdd
    } { (rows, byCell, hits) =>
      HnswModel.rebuild(id, rows, p).foreach { case (cell, idx) =>
        byCell.getOrElse(cell, Array.empty[(Long, Array[Float])]).foreach {
          case (qid, qv) => hits.search(qid)(idx.searchKNN(qv, k, ef))
        }
      }
    }.toDF(hnsw.graph.sparkSession)
  }

  /** The routed probe set grouped by cell: each cell's `(query_id,
    * query_vec)` probes ([[routeProbes]] order and tie-breaks). */
  private[graft] def probesByCell(centroids: Array[(Int, Array[Float])], metric: String,
      queries: DataFrame, nprobe: Int, queryId: String,
      queryVec: String): Map[Int, Array[(Long, Array[Float])]] = {
    import queries.sparkSession.implicits._
    routeProbes(centroids, metric, queries, nprobe, queryId, queryVec)
      .as[(Long, Array[Float], Array[Int])].collect()
      .flatMap { case (qid, qv, cells) => cells.map(c => (c, (qid, qv))) }
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2)) }
  }

  /** Large-probe-set variant mirroring [[HnswModel.knnJoinBatched]]: hash-
    * batch the queries so no more than ~batchRows routed probes are ever
    * collected/broadcast at once; union per-batch results. */
  def knnJoinBatched(model: Model, queries: DataFrame, k: Int, nprobe: Int = 2,
      efSearchOverride: Option[Int] = None, batchRows: Int = 100000,
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame =
    graft.operators.ProbeBatch.batched(queries, batchRows, queryId)(
      knnJoin(model, _, k, nprobe, efSearchOverride, queryId, queryVec))

  /** Persistence: centroids parquet + the CELL-PARTITIONED graph via
    * [[HnswModel.save]] (store CRUD contract; load-missing → None). One
    * parquet directory per cell, so a loaded model's nprobe-cell filter
    * prunes unprobed cells' files at the scan instead of reading the whole
    * graph — the same layout [[graft.operators.IvfPq]]'s codes use. */
  def save(model: Model, path: String): Unit = {
    val spark = model.hnsw.spark
    import spark.implicits._
    model.hnsw.save(s"$path/hnsw", cellPartitioned = true)
    model.centroids.toSeq.toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Lazy load: the graph is NOT persisted, so every [[knnJoin]] against a
    * loaded model reads only the probed cells' parquet files (file-level
    * pruning); [[SubIndexCache]] absorbs repeat-query rebuild cost. */
  def load(spark: SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids"))) return None
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    HnswModel.load(spark, s"$path/hnsw", eager = false).map(Model(centroids, _))
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }
}
