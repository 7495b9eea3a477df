package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared probe-set batching for the collect-and-broadcast ANN paths.
  *
  * Every distributed ANN query here ships the (small) probe set through
  * the driver as a broadcast — the scan/graph side never shuffles. That
  * contract caps driver heap at the probe-set size, so a LARGE probe set
  * needs hash-batching: split the queries into ceil(n/batchRows) hash
  * groups, run the underlying join per group, union the results.
  * Results are identical to the unbatched run (per-query top-k is
  * independent across queries; the spec asserts set equality on every
  * path).
  *
  * The batch decision is one bounded read: the first `batchRows + 1`
  * probe rows are collected. When they are all the rows, they go to
  * `join` as a local relation, so the probe source is read once and a
  * join that collects its probes (the HNSW paths) runs no job for it.
  * Only a larger probe set pays a `count()` and per-batch reads. The HNSW
  * joins are eager, so their results cross the driver too, bounded by
  * probes × k rows per batch.
  *
  * One helper for every probe-set batch: `HnswModel.knnJoinBatched`,
  * `IvfHnsw.knnJoinBatched` and the streaming indexes call it, and a
  * caller of any other ANN `knnJoin` (BQ, SQ, PQ, OPQ, RaBitQ, IVF-PQ,
  * IVF-BQ, IVF-RaBitQ, PCA) wraps that call in it directly.
  */
object ProbeBatch {

  /** Run `join` over `queries` in hash batches of ≤ ~batchRows rows.
    * `queryId` must be a stable key column (batching hashes it). */
  def batched(queries: DataFrame, batchRows: Int, queryId: String)(
      join: DataFrame => DataFrame): DataFrame = {
    require(batchRows > 0, "batchRows must be positive")
    val head = queries.limit(if (batchRows == Int.MaxValue) batchRows else batchRows + 1)
      .collect()
    if (head.length <= batchRows)
      join(queries.sparkSession.createDataFrame(java.util.Arrays.asList(head: _*),
        queries.schema))
    else {
      val numBatches = math.ceil(queries.count().toDouble / batchRows).toInt
      (0 until numBatches).map { b =>
        join(queries.filter(pmod(xxhash64(col(queryId)), lit(numBatches)) === b))
      }.reduce(_ unionByName _)
    }
  }
}
