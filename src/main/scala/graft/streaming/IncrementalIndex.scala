package graft.streaming

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.hnsw.{HnswIndex, HnswParams, Metric, ShardTopK, SubIndexPin}
import graft.operators.ProbeBatch

/** UPSERTING incremental streaming index maintenance (the O10 `addPoint`
  * analog the reference exposes for its chunked reader — src/main.ts:234-248,
  * src/bench/dataset.ts:153-194): every micro-batch hash-routes its
  * vectors to P stable partitions and upserts them into that partition's
  * pinned executor-side sub-index — no refit, per-batch work is O(batch).
  * A re-delivered vec_id with an identical embedding is skipped (replay
  * idempotence); a CHANGED embedding is APPLIED in place
  * ([[HnswIndex.updatePoint]], counted by [[appliedUpdateCount]]) —
  * hash routing is id-keyed, so an update always lands on the shard that
  * holds the id. Last-delivered-wins: a source that re-delivers OLD rows
  * in later batches regresses the vector — version upstream if needed.
  *
  * Executor pinning: sub-indexes live in the executor JVM keyed by
  * (maintainerId, partition). Co-location of a partition's rows, shard,
  * and query task is guaranteed only when all tasks share one JVM —
  * local mode or a one-executor static cluster; on a multi-executor
  * cluster a task can land on an executor missing its shard. Rather than
  * silently returning partial results, [[knnJoin]] and [[snapshot]]
  * compare the rows the shards hold against the rows this instance
  * inserted ([[ingestedCount]]) and THROW on mismatch ([[knnJoin]] counts
  * the shards inside its own search job). For durable, relocatable
  * state use [[EventPipeline.StreamingIndexMaintainer]] (staging +
  * compaction refit) and [[snapshot]] (persist current shards to rows) —
  * the two maintainers are complementary: this one bounds per-batch
  * latency, that one bounds recovery.
  *
  * [[knnJoin]] is EAGER: the search runs inside the call as one Spark job
  * and its result crosses the driver as a local relation, bounded by
  * probes × k rows.
  */
class IncrementalIndex(spark: SparkSession, params: HnswParams,
    val maintainerId: String = java.util.UUID.randomUUID().toString)
    extends Serializable {

  private val p = params

  private val ingested =
    spark.sparkContext.longAccumulator(s"graft.inc.$maintainerId.ingested")
  private val appliedUpdates =
    spark.sparkContext.longAccumulator(s"graft.inc.$maintainerId.appliedUpdates")

  /** Rows actually inserted by THIS maintainer instance ([[IncrementalIndex.restore]]
    * seeds shards without touching it — the guard only checks `>=`). */
  def ingestedCount: Long = ingested.value

  /** Re-delivered ids whose embedding DIFFERED from the indexed one —
    * vector updates this maintainer APPLIED in place. In-place updates
    * never change the live count, so the completeness guard's
    * arithmetic is update-proof. */
  def appliedUpdateCount: Long = appliedUpdates.value

  /** foreachBatch sink: route and insert one micro-batch of
    * (vec_id, embedding) rows. Insert order inside a batch partition is
    * ascending id, so replaying identical batches rebuilds identical
    * shards. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val mid = maintainerId
    val pr = p
    val ing = ingested
    val upd = appliedUpdates
    import batch.sparkSession.implicits._
    batch
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      // the embedding tie-break makes duplicate ids WITHIN a batch apply
      // in a deterministic order (last one in sort order wins)
      .repartition(pr.numPartitions, col("vec_id"))
      .sortWithinPartitions("vec_id", "embedding")
      .foreachPartition { (it: Iterator[(Long, Array[Float])]) =>
        val part = TaskContext.getPartitionId()
        val key = s"$mid/$part"
        val idx = Option(SubIndexPin.get(key)).getOrElse {
          val built = new HnswIndex(pr.m, pr.efConstruction, -1, Metric(pr.metric),
            Some(pr.effectiveEfSearch), None, pr.seed)
          SubIndexPin.put(key, built)
          built
        }
        // already-present ids with identical vectors are skipped, NOT
        // errors: task retries and foreachBatch re-delivery after restart
        // replay rows into shards that already absorbed them —
        // idempotence is what makes the "replaying identical batches
        // rebuilds identical shards" claim true. Changed vectors are
        // APPLIED in place. The shard lock serializes ingest against
        // concurrent knnJoin/indexedCount tasks on the same pinned index.
        idx.synchronized {
          it.foreach { case (id, v) =>
            idx.nodes.get(id) match {
              case None =>
                idx.addPoint(id, v); ing.add(1)
              case Some(node) =>
                if (!java.util.Arrays.equals(node.vector, v)) {
                  idx.updatePoint(id, v); upd.add(1)
                }
            }
          }
        }
      }
  }

  /** Fails loudly when the pinned shards hold fewer vectors than this
    * instance inserted — the silent-partial-results failure mode of
    * executor-pinned state on a multi-executor cluster. */
  def assertComplete(context: String): Unit = requireComplete(context, indexedCount())

  private def requireComplete(context: String, indexed: Long): Unit = {
    val expected = ingested.value
    if (indexed < expected) throw new IllegalStateException(
      s"$context: pinned shards hold $indexed vectors but $expected were " +
        s"inserted — executor-pinned state was lost or is not visible to " +
        s"this stage's tasks (multi-executor cluster?). Re-ingest, restore " +
        s"from snapshot(), or serve through the compaction path.")
  }

  /** Pinned-shard k-NN: one task per shard, searched in place, merged on
    * the driver ([[graft.hnsw.ShardTopK]]). Probe sets are hash-batched
    * (`batchRows`) so driver heap stays bounded. The completeness guard
    * rides the same job: each shard task reports its size with its hits,
    * and the call throws before returning any row. */
  def knnJoin(queries: DataFrame, k: Int,
      efSearchOverride: Option[Int] = None, batchRows: Int = 100000,
      completenessCheck: Boolean = true): DataFrame =
    ProbeBatch.batched(queries, batchRows, "query_id")(
      knnJoinOnce(_, k, efSearchOverride, completenessCheck))

  private def knnJoinOnce(queries: DataFrame, k: Int,
      efSearchOverride: Option[Int], completenessCheck: Boolean): DataFrame = {
    val mid = maintainerId
    val ef = efSearchOverride
    val res = ShardTopK.search(k, ShardTopK.probes(queries, "query_id", "query_vec"))(
      _ => spark.sparkContext.makeRDD(0 until p.numPartitions, p.numPartitions)) {
      (partIds, probes, hits) =>
        partIds.foreach { part =>
          Option(SubIndexPin.get(s"$mid/$part")).foreach { idx =>
            idx.synchronized {
              hits.addShardRows(idx.size)
              probes.foreach { case (qid, qv) => hits.search(qid)(idx.searchKNN(qv, k, ef)) }
            }
          }
        }
    }
    if (completenessCheck) requireComplete("knnJoin", res.shardRows)
    res.toDF(spark)
  }

  /** Total vectors currently held by the pinned shards (consistency probe:
    * compare against the count of ingested rows to detect shard loss). */
  def indexedCount(): Long = {
    val mid = maintainerId
    spark.sparkContext.makeRDD(0 until p.numPartitions, p.numPartitions)
      .mapPartitions { partIds =>
        partIds.map(part => Option(SubIndexPin.get(s"$mid/$part"))
          .map(idx => idx.synchronized(idx.size.toLong)).getOrElse(0L))
      }.sum().toLong
  }

  /** Persist the pinned shards as graph rows (same layout HnswModel
    * uses) — the durable snapshot for recovery/compaction.
    * Completeness-guarded: a partial snapshot would silently become a
    * partial restore. */
  def snapshot(path: String): Unit = {
    assertComplete("snapshot")
    val mid = maintainerId
    import spark.implicits._
    spark.sparkContext.makeRDD(0 until p.numPartitions, p.numPartitions)
      .mapPartitions { partIds =>
        partIds.flatMap { part =>
          Option(SubIndexPin.get(s"$mid/$part")).iterator.flatMap { idx =>
            idx.synchronized {
              idx.toRows.map(r =>
                graft.hnsw.PartGraphRow(part, r.id, r.level, r.vector, r.neighbors)).toVector
            }.iterator
          }
        }
      }.toDF().write.mode("overwrite").parquet(s"$path/graph")
  }

  /** Drop the pinned shards (every executor). */
  def close(): Unit = {
    val mid = maintainerId
    spark.sparkContext.makeRDD(0 until p.numPartitions, p.numPartitions)
      .foreachPartition((_: Iterator[Int]) => SubIndexPin.evictModel(mid))
    SubIndexPin.evictModel(mid)
  }
}

object IncrementalIndex {
  /** Rebuild pinned shards from a [[IncrementalIndex.snapshot]] dump — the
    * recovery path after restart. Shards pin under their ORIGINAL part ids
    * (hash(vec_id) routing), so subsequent processBatch calls keep landing
    * rows in the right shard. The restored entry point is the min-id node
    * of each shard's top layer; any top-layer entry is a valid descent
    * start, so search semantics are unchanged (deep-tie traversal order
    * may differ from the pre-restart instance). */
  def restore(spark: SparkSession, path: String,
      params: graft.hnsw.HnswParams): IncrementalIndex = {
    val m = new IncrementalIndex(spark, params)
    val mid = m.maintainerId
    val pr = params
    import spark.implicits._
    spark.read.parquet(s"$path/graph").as[graft.hnsw.PartGraphRow]
      .repartition(params.numPartitions, col("part"))
      .foreachPartition { (rows: Iterator[graft.hnsw.PartGraphRow]) =>
        rows.toArray.groupBy(_.part).foreach { case (part, rs) =>
          val levelMax = rs.map(_.level).max
          val entry = rs.filter(_.level == levelMax).map(_.id).min
          val idx = graft.hnsw.HnswSerde.fromRows(
            rs.iterator.map(r => graft.hnsw.HnswGraphRow(r.id, r.level, r.vector, r.neighbors)),
            pr.m, pr.efConstruction, Metric(pr.metric),
            Some(pr.effectiveEfSearch), pr.seed, levelMax, entry)
          SubIndexPin.put(s"$mid/$part", idx)
        }
      }
    m
  }
}
