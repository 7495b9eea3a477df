package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.similarity
import graft.hnsw.{HnswIndex, HnswModel, HnswParams, IvfHnsw, Metric, ShardTopK, SubIndexPin}
import graft.operators.ProbeBatch

/** UPSERTING incremental ingest for the HYBRID index
  * ([[graft.hnsw.IvfHnsw]]): every micro-batch assigns its vectors to
  * their nearest IVF cell (the same greatest-struct argmax the batch fit
  * uses, against the FIXED centroids of a fitted model) and inserts them
  * into that cell's pinned executor-side HNSW sub-index — per-batch work
  * is O(batch), queries keep the cell-routed sublinear probe, and
  * [[snapshot]] writes the exact on-disk layout [[IvfHnsw.load]] serves,
  * so a stream-built index is batch-servable without conversion.
  *
  * UPDATE semantics: a re-delivered vec_id with an IDENTICAL embedding is
  * skipped (task-retry/failed-batch-replay idempotence — the foreachBatch
  * contract only ever replays the most recent uncommitted batch); a
  * CHANGED embedding is APPLIED ([[appliedUpdateCount]]). Because cell
  * routing is a function of the vector, a changed embedding usually lands
  * in a DIFFERENT cell: the maintainer-wide id registry (same
  * JVM-visibility boundary as the shard pins) detects the move, the old
  * cell's node is tombstoned (soft-delete: excluded from results, kept
  * for traversal; purged at snapshot/compact), and the vector is inserted
  * — or revived, if it once lived there — in its new cell. A same-cell
  * change re-links in place ([[HnswIndex.updatePoint]]). Updates are
  * last-DELIVERED-wins: a source that re-delivers OLD rows in LATER
  * batches will regress the vector — dedupe or version upstream if the
  * source is at-least-once across batches. Centroids are FROZEN at
  * construction (retraining online would silently re-route the corpus);
  * trigger compaction on [[needsCompaction]] — the round-6 measurement
  * (BASELINE.md) keys it to corpus growth since fit, the actual recall
  * driver, rather than drift detection.
  *
  * Executor pinning: shards live in executor JVMs keyed by
  * (maintainerId, cell). Batch rows reach their shard via a hash
  * `repartition` on the cell key and queries via tasks with NO executor
  * affinity, so co-location of a cell's rows, shard, and query task is
  * guaranteed only when all tasks share one JVM — local mode (where the
  * specs and benches run) or a one-executor static cluster. On a
  * multi-executor cluster a task can land on an executor missing its
  * shard; rather than silently returning partial results, [[knnJoin]]
  * and [[snapshot]] compare [[indexedCount]] against the count of rows
  * this instance actually inserted ([[ingestedCount]]) and THROW on
  * mismatch. For durable multi-executor serving, [[snapshot]] +
  * [[IvfHnsw.load]] is the supported path.
  */
class IncrementalIvfIndex(spark: SparkSession,
    val centroids: Array[(Int, Array[Float])], params: HnswParams,
    val maintainerId: String = java.util.UUID.randomUUID().toString,
    val fitCorpusSize: Long = -1L)
    extends Serializable {

  private val p = params
  private val numCells = centroids.length

  // actual inserts (incremented only when a fresh id's addPoint runs, so
  // replayed rows don't double-count) and applied updates (existing id,
  // different vector — moved/re-linked). An update never changes the
  // live count (same-cell re-link is in place; a cross-cell move
  // tombstones one node and inserts/revives one), so the completeness
  // guard's indexedCount() >= ingested arithmetic is update-proof.
  // Accumulator updates from failed tasks are discarded, so both are
  // lower bounds (telemetry, not exact meters).
  private val ingested =
    spark.sparkContext.longAccumulator(s"graft.incivf.$maintainerId.ingested")
  private val appliedUpdates =
    spark.sparkContext.longAccumulator(s"graft.incivf.$maintainerId.appliedUpdates")

  /** Rows actually inserted by THIS maintainer instance (restores via
    * [[IncrementalIndex.restore]]-style recovery reset it). */
  def ingestedCount: Long = ingested.value

  /** Re-delivered ids whose embedding DIFFERED from the indexed one —
    * vector updates this maintainer APPLIED (moved across cells or
    * re-linked in place). */
  def appliedUpdateCount: Long = appliedUpdates.value

  /** foreachBatch sink: assign cells and upsert one micro-batch of
    * (vec_id, embedding) rows. A duplicate vec_id WITHIN a batch is
    * deterministically collapsed first (max (cell, embedding) struct —
    * without this, one id's insert and cross-cell move could race in
    * different tasks); each surviving row then inserts, updates in
    * place, or moves across cells through the id registry. Insert order
    * inside a batch cell is ascending id and every cell's rows live in
    * exactly one partition, so graph STRUCTURE mutations per shard stay
    * single-task sequential — replaying identical batches rebuilds
    * identical shards. The only cross-task shard touch is the tombstone
    * mark of a move's OLD cell, which is structure-neutral. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val mid = maintainerId
    val pr = p
    val ing = ingested
    val upd = appliedUpdates
    import batch.sparkSession.implicits._
    val scores = centroids.map { case (c, v) =>
      struct(nanvl(similarity.sim(pr.metric)(col("embedding"), typedlit(v)),
        lit(-1.0)).as("s"), lit(c).as("c"))
    }
    batch
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .withColumn("cell", greatest(scores.toSeq: _*)("c"))
      .groupBy("vec_id")
      .agg(max(struct(col("cell"), col("embedding"))).as("pick"))
      .select(col("pick.cell").as("cell"), col("vec_id"),
        col("pick.embedding").as("embedding"))
      .as[(Int, Long, Array[Float])]
      .repartition(numCells, col("cell"))
      .sortWithinPartitions("cell", "vec_id")
      .foreachPartition { (it: Iterator[(Int, Long, Array[Float])]) =>
        // a partition may hold several cells (hash packing is irrelevant
        // here — the pin key comes from the ROW's cell, not the task id)
        val reg = SubIndexPin.idRegistry(mid)
        it.foreach { case (cell, id, v) =>
          val key = s"$mid/$cell"
          val idx = Option(SubIndexPin.get(key)).getOrElse {
            val built = new HnswIndex(pr.m, pr.efConstruction, -1,
              Metric(pr.metric), Some(pr.effectiveEfSearch), None, pr.seed)
            SubIndexPin.put(key, built)
            built
          }
          // cell routing is a deterministic function of the VECTOR, so a
          // changed embedding usually re-routes to a DIFFERENT cell — the
          // maintainer-wide id registry detects the move: tombstone the
          // old cell's node, insert (or revive) in the new cell. A
          // same-cell change re-links in place. Idempotent under task
          // retry and failed-batch replay: every step converges (registry
          // put is last; re-running any prefix re-applies no-ops).
          val prev = reg.putIfAbsent(id, cell)
          if (prev == null) {
            idx.synchronized { idx.addPoint(id, v); ing.add(1) }
          } else if (prev.intValue == cell) {
            idx.synchronized {
              if (idx.nodes.contains(id)) {
                // upsertPoint covers: identical vector (no-op), changed
                // vector (in-place re-link), tombstoned here by a crashed
                // move (revive)
                if (idx.upsertPoint(id, v)) upd.add(1)
              } else {
                // a task died between registering and inserting; the
                // retry repairs the shard
                idx.addPoint(id, v); ing.add(1)
              }
            }
          } else {
            // cross-cell move: locks taken one at a time (never nested —
            // no deadlock); queries never run mid-batch, so the brief
            // tombstoned-but-not-yet-inserted window is unobservable
            val removed = Option(SubIndexPin.get(s"$mid/${prev.intValue}"))
              .exists(o => o.synchronized(o.removePoint(id)))
            val upserted = idx.synchronized(idx.upsertPoint(id, v))
            reg.put(id, cell)
            if (removed || upserted) upd.add(1)
          }
        }
      }
  }

  /** Fails loudly when the pinned shards hold fewer vectors than this
    * instance inserted — the silent-partial-results failure mode of
    * executor-pinned state on a multi-executor cluster (shard lost with
    * its executor, or a task scheduled off-JVM from its shard). */
  def assertComplete(context: String): Unit = requireComplete(context, indexedCount())

  private def requireComplete(context: String, indexed: Long): Unit = {
    val expected = ingested.value
    if (indexed < expected) throw new IllegalStateException(
      s"$context: pinned shards hold $indexed vectors but $expected were " +
        s"inserted — executor-pinned state was lost or is not visible to " +
        s"this stage's tasks (multi-executor cluster?). Re-ingest, or " +
        s"serve from snapshot() + IvfHnsw.load.")
  }

  /** Cell-routed pinned-shard k-NN: each probe searches only its `nprobe`
    * nearest cells' pinned sub-indexes. Routing runs executor-side as a
    * DataFrame projection against broadcast-literal centroids — the exact
    * [[IvfHnsw.routeProbes]] plan ((score desc, cell asc), NaN pinned to
    * -1.0) — so the driver never computes per-probe work; the routed set
    * crosses the driver only as the collect-and-broadcast the pinned-
    * shard contract requires, hash-batched (`batchRows`) so driver heap
    * stays bounded for large probe sets. EAGER: one job per batch, one
    * task per cell, merged on the driver ([[graft.hnsw.ShardTopK]]).
    * Completeness-guarded in that same job (every cell task reports its
    * size); disable via `completenessCheck` only in a loop that already
    * checked. */
  def knnJoin(queries: DataFrame, k: Int, nprobe: Int = 2,
      efSearchOverride: Option[Int] = None, batchRows: Int = 100000,
      completenessCheck: Boolean = true): DataFrame = {
    require(nprobe > 0)
    ProbeBatch.batched(queries, batchRows, "query_id")(
      knnJoinOnce(_, k, nprobe, efSearchOverride, completenessCheck))
  }

  private def knnJoinOnce(queries: DataFrame, k: Int, nprobe: Int,
      efSearchOverride: Option[Int], completenessCheck: Boolean): DataFrame = {
    val mid = maintainerId
    val ef = efSearchOverride
    val res = ShardTopK.search(k, IvfHnsw.probesByCell(centroids, p.metric, queries,
        nprobe, "query_id", "query_vec"))(
      _ => spark.sparkContext.makeRDD(0 until numCells, numCells)) {
      (cellIds, byCell, hits) =>
        cellIds.foreach { cell =>
          Option(SubIndexPin.get(s"$mid/$cell")).foreach { idx =>
            idx.synchronized {
              hits.addShardRows(idx.size)
              byCell.getOrElse(cell, Array.empty[(Long, Array[Float])]).foreach {
                case (qid, qv) => hits.search(qid)(idx.searchKNN(qv, k, ef))
              }
            }
          }
        }
    }
    if (completenessCheck) requireComplete("knnJoin", res.shardRows)
    res.toDF(spark)
  }

  /** Indexed-corpus growth relative to the quantizer's fit corpus
    * (None when the fit size is unknown). The round-6 drift measurement
    * (BASELINE.md) showed recall decline is driven by growth past the
    * frozen quantizer, not distribution drift per se — so the compaction
    * trigger keys on this ratio. */
  def growthSinceFit: Option[Double] =
    if (fitCorpusSize > 0) Some(indexedCount().toDouble / fitCorpusSize) else None

  /** True once the indexed corpus outgrew the fit corpus by `factor`
    * (default 2x — recall at nprobe=4 had shed ~3 points by then and ~8
    * by 5x in the round-6 measurement). */
  def needsCompaction(factor: Double = 2.0): Boolean =
    growthSinceFit.exists(_ >= factor)

  /** One-row store observability ([[graft.operators.StoreDescription]]
    * contract): the executor-RESIDENT member of the fleet — state lives
    * in pinned shards, so `bytes_on_disk` is 0 and `deleted_rows` is
    * the tombstone population is not separately tracked (0); epochs =
    * micro-batches this maintainer applied is not meaningful either —
    * the row reports the live count, growth past the frozen quantizer
    * and the compaction trigger, union-able with the persisted stores'
    * describe() rows for one fleet dashboard. */
  def describe(factor: Double = 2.0): DataFrame = {
    import graft.operators.{StoreDescribe, StoreDescription}
    val live = indexedCount()
    StoreDescribe.toDf(spark, StoreDescription(
      store_kind = "incremental_ivf_pinned",
      location = maintainerId,
      family = "ivf_hnsw",
      live_rows = live,
      deleted_rows = 0L,
      epochs = 0L,
      bytes_on_disk = 0L,
      growth_since_fit = growthSinceFit,
      needs_compaction = needsCompaction(factor),
      detail = s"cells=$numCells ingested=$ingestedCount " +
        s"updates=$appliedUpdateCount fit_n=$fitCorpusSize"))
  }

  /** Everything currently indexed, as (vec_id, embedding) rows. */
  def currentVectors(): DataFrame = {
    val mid = maintainerId
    import spark.implicits._
    spark.sparkContext.makeRDD(0 until numCells, numCells)
      .mapPartitions { cellIds =>
        cellIds.flatMap { cell =>
          Option(SubIndexPin.get(s"$mid/$cell")).iterator.flatMap { idx =>
            idx.synchronized {
              idx.toRows.map(r => (r.id, r.vector)).toVector
            }.iterator
          }
        }
      }.toDF("vec_id", "embedding")
  }

  /** COMPACTION: refit the coarse quantizer over everything currently
    * indexed and rebuild the per-cell graphs — the recovery path for
    * corpus growth past the fit corpus ([[needsCompaction]]). Streamed
    * vector updates are already live ([[appliedUpdateCount]]); the
    * `updates` parameter is for EXTERNAL corrections — its
    * (vec_id, embedding) rows REPLACE same-id indexed vectors.
    * Returns a fresh batch model. Epoch handoff: hand the model to
    * [[IncrementalIvfIndex.fromModel]] (then [[close]] this maintainer);
    * the NEW maintainer ingests only post-compact arrivals and
    * [[knnJoinMerged]] serves batch + live together. Deterministic:
    * equals `IvfHnsw.fit` over the merged corpus.
    *
    * SIZE `numCellsNew` BY GROWTH: the round-6 measurement (BASELINE.md
    * compaction table) shows a same-C refit at 5x growth makes
    * newest-region recall WORSE than the frozen quantizer (0.963 ->
    * 0.926 at 1M) — recall decline is a shard-SIZE effect, and refitting
    * at the same C leaves shards 5x their fit-time mass while spreading
    * the newest region over more cells. Compact into ~C·growth cells and
    * scale nprobe with C (constant touched fraction): measured 0.966,
    * restoring the live level at one fresh-fit cost (183 s at 1M). */
  def compact(numCellsNew: Int = -1, updates: Option[DataFrame] = None,
      balanceSlack: Double = 0.0): IvfHnsw.Model = {
    assertComplete("compact")
    val current = currentVectors()
    val merged = updates match {
      case None => current
      case Some(u) =>
        val upd = u.select(col("vec_id").cast("long"),
          col("embedding").cast("array<float>"))
        current.join(upd, Seq("vec_id"), "left_anti").unionByName(upd)
    }
    val cellsOut = if (numCellsNew > 0) numCellsNew else numCells
    IvfHnsw.fit(merged, cellsOut, p, balanceSlack = balanceSlack)
  }

  /** Epoch-pattern serving: after [[compact]], the corpus lives in the
    * returned BATCH model and this (fresh) maintainer ingests only the
    * vectors that arrived since — queries must see both. Runs the
    * cell-routed probe on each side and merges with the usual per-query
    * top-k window. Ids present in both sides (a vector re-ingested after
    * the compact snapshot) keep the higher-scoring row, then the id
    * tie-break. */
  def knnJoinMerged(batch: IvfHnsw.Model, queries: DataFrame, k: Int,
      nprobe: Int = 2, efSearchOverride: Option[Int] = None,
      batchRows: Int = 100000): DataFrame = {
    require(k > 0 && nprobe > 0)
    assertComplete("knnJoinMerged")
    val live = knnJoin(queries, k, nprobe, efSearchOverride, batchRows,
      completenessCheck = false)
      .select("query_id", "neighbor_id", "score")
    val base = IvfHnsw.knnJoinBatched(batch, queries, k, nprobe,
      efSearchOverride, batchRows)
      .select("query_id", "neighbor_id", "score")
    val merged = live.unionByName(base)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("score")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    merged.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Total vectors currently held by the pinned cell shards. */
  def indexedCount(): Long = {
    val mid = maintainerId
    spark.sparkContext.makeRDD(0 until numCells, numCells)
      .mapPartitions { cellIds =>
        cellIds.map(cell => Option(SubIndexPin.get(s"$mid/$cell"))
          .map(idx => idx.synchronized(idx.size.toLong)).getOrElse(0L))
      }.sum().toLong
  }

  /** Persist as a BATCH-SERVABLE hybrid model: the exact layout
    * [[IvfHnsw.save]] writes (cell-partitioned graph + params.json +
    * centroids parquet), so `IvfHnsw.load(spark, path)` serves the
    * stream-built index with file-pruned probes — no conversion step.
    * Completeness-guarded: a partial snapshot would otherwise be served
    * as a complete batch model. */
  def snapshot(path: String): Unit = {
    assertComplete("snapshot")
    val mid = maintainerId
    import spark.implicits._
    val graph = spark.sparkContext.makeRDD(0 until numCells, numCells)
      .mapPartitions { cellIds =>
        cellIds.flatMap { cell =>
          Option(SubIndexPin.get(s"$mid/$cell")).iterator.flatMap { idx =>
            idx.synchronized {
              idx.toRows.map(r => graft.hnsw.PartGraphRow(
                cell, r.id, r.level, r.vector, r.neighbors)).toVector
            }.iterator
          }
        }
      }.toDS()
    new HnswModel(spark, p, graph).save(s"$path/hnsw", cellPartitioned = true)
    centroids.toSeq.toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Drop the pinned shards (every executor). */
  def close(): Unit = {
    val mid = maintainerId
    spark.sparkContext.makeRDD(0 until numCells, numCells)
      .foreachPartition((_: Iterator[Int]) => SubIndexPin.evictModel(mid))
    SubIndexPin.evictModel(mid)
  }
}

object IncrementalIvfIndex {
  /** Start an incremental maintainer from a fitted batch model's
    * centroids (the frozen-quantizer contract). The model's graph size
    * is recorded as the fit-corpus size so [[growthSinceFit]] /
    * [[needsCompaction]] can key the refit trigger. */
  def fromModel(spark: SparkSession, model: IvfHnsw.Model): IncrementalIvfIndex =
    new IncrementalIvfIndex(spark, model.centroids, model.hnsw.params,
      fitCorpusSize = model.hnsw.graph.count())
}
