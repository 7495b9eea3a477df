package graft.hnsw

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The shard-and-search merge every HNSW serving path shares
  * ([[HnswModel.knnJoin]], [[IvfHnsw.knnJoin]] and the pinned-shard
  * maintainers in `graft.streaming`).
  *
  * It has the shape of `RDD.takeOrdered`: ONE Spark job, one task per
  * shard partition, no exchange. Each task searches its shards for every
  * probe routed to them and cuts each query's hits to its own top-k; the
  * driver merges those lists into one bounded top-k per query as task
  * results arrive. Driver memory is O(probes × k) — the size of the result
  * itself — and the probe set already crossed the driver to be broadcast.
  *
  * The order is exactly the `row_number()` window the paths ran before:
  * `score` descending in Spark's double ordering (NaN greatest, -0.0 equal
  * to 0.0), then `neighbor_id` ascending. The result is a local relation
  * `(query_id, neighbor_id, score, rank)` with the window's schema, so
  * reading it back runs no job.
  */
private[graft] object ShardTopK {

  /** Spark SQL's double comparison: NaN equals NaN and is greater than
    * any other value; -0.0 equals 0.0. */
  private def compareScores(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Whether hit (id1, s1) ranks before hit (id2, s2). */
  private def ranksBefore(id1: Long, s1: Double, id2: Long, s2: Double): Boolean = {
    val c = compareScores(s1, s2)
    c > 0 || (c == 0 && id1 < id2)
  }

  private def topK(hits: Array[(Long, Double)], k: Int): Array[(Long, Double)] =
    hits.sortWith((a, b) => ranksBefore(a._1, a._2, b._1, b._2)).take(k)

  /** Merge two lists already in rank order, keeping the first k. */
  private def merge(a: Array[(Long, Double)], b: Array[(Long, Double)],
      k: Int): Array[(Long, Double)] = {
    val out = new Array[(Long, Double)](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < out.length) {
      val takeA = j == b.length ||
        (i < a.length && !ranksBefore(b(j)._1, b(j)._2, a(i)._1, a(i)._2))
      if (takeA) { out(n) = a(i); i += 1 } else { out(n) = b(j); j += 1 }
      n += 1
    }
    out
  }

  /** What one task hands back: each probe's top-k over the task's shards,
    * each probe's longest single-shard search, and the rows the shards
    * held when searched. */
  final case class Part(qids: Array[Long], hits: Array[Array[(Long, Double)]],
      slowestMs: Array[Double], shardRows: Long)

  /** Task-side collector handed to the search function. */
  final class Hits private[ShardTopK] (k: Int) {
    private val byQuery = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
    private val slowest = mutable.LongMap.empty[Double]
    private var rows = 0L

    /** Run one probe's search of one shard, keeping its hits and its time. */
    def search(qid: Long)(run: => Array[(Long, Double)]): Unit = {
      val t0 = System.nanoTime()
      val found = run
      val ms = (System.nanoTime() - t0) / 1e6
      byQuery.getOrElseUpdate(qid, mutable.ArrayBuffer.empty) ++= found
      slowest(qid) = math.max(slowest.getOrElse(qid, 0.0), ms)
    }

    /** Report the size of a searched shard (the maintainers' completeness
      * guard sums these on the driver). */
    def addShardRows(n: Long): Unit = rows += n

    private[ShardTopK] def part: Part = {
      val qids = byQuery.keys.toArray
      Part(qids, qids.map(q => topK(byQuery(q).toArray, k)), qids.map(slowest), rows)
    }
  }

  /** The merged answer of one shard-and-search job. */
  final class Result private[ShardTopK] (
      byQuery: mutable.LongMap[Array[(Long, Double)]],
      slowest: mutable.LongMap[Double],
      /** rows held by every searched shard, summed over tasks */
      val shardRows: Long) {

    /** `(query_id, neighbor_id, score, rank)`, rank 1..k per query. */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      byQuery.keys.toArray.sorted.toSeq.flatMap { q =>
        byQuery(q).iterator.zipWithIndex.map { case ((id, s), i) => (q, id, s, i + 1) }
      }.toDF("query_id", "neighbor_id", "score", "rank")
    }

    /** `(query_id, search_ms)`: each query's critical path, the longest
      * of its single-shard searches. */
    def latencies(spark: SparkSession): DataFrame = {
      import spark.implicits._
      slowest.toSeq.sortBy(_._1).toDF("query_id", "search_ms")
    }
  }

  /** Collect a probe frame as `(query_id, query_vec)` pairs. */
  def probes(queries: DataFrame, queryId: String,
      queryVec: String): Array[(Long, Array[Float])] = {
    import queries.sparkSession.implicits._
    queries.select(col(queryId).cast("long"), col(queryVec).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
  }

  /** Run one shard-and-search job. `probes` is evaluated after `k` is
    * checked and broadcast to every task of `shards(probes)`; `task`
    * runs once per task over that partition's shard rows. The broadcast
    * is destroyed once the job returns. */
  def search[P: ClassTag, T](k: Int, probes: => P)(shards: P => RDD[T])(
      task: (Iterator[T], P, Hits) => Unit): Result = {
    require(k > 0, s"k must be positive, got $k")
    val local = probes
    val rdd = shards(local)
    val sc = rdd.sparkContext
    val bc = sc.broadcast(local)
    val byQuery = mutable.LongMap.empty[Array[(Long, Double)]]
    val slowest = mutable.LongMap.empty[Double]
    var shardRows = 0L
    try {
      sc.runJob(rdd, (it: Iterator[T]) => {
        val hits = new Hits(k)
        task(it, bc.value, hits)
        hits.part
      }, (_: Int, p: Part) => {
        var i = 0
        while (i < p.qids.length) {
          val q = p.qids(i)
          byQuery(q) = byQuery.get(q).fold(p.hits(i))(merge(_, p.hits(i), k))
          slowest(q) = math.max(slowest.getOrElse(q, 0.0), p.slowestMs(i))
          i += 1
        }
        shardRows += p.shardRows
      })
    } finally bc.destroy()
    new Result(byQuery, slowest, shardRows)
  }
}
