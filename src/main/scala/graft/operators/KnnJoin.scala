package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.similarity

/** Exact (brute-force) k-NN similarity join — the oracle operator
  * (reference: src/bench/metrics.ts:9-24 — score query against every base
  * vector, sort descending, take k).
  *
  * Spark shape: broadcast the (small) query side against the (large) base
  * side — a BroadcastNestedLoopJoin, so the base table streams through
  * exactly once with no shuffle of the base data — then per-query top-k via
  * a rank window partitioned by query id. Deterministic tie-break on base id.
  *
  * At 100 TB: base side stays partition-local (never shuffled); the only
  * exchange is the per-query candidate union (|queries| * P * k rows), then
  * AQE coalesces. For large query sets, chunk the query side.
  */
object KnnJoin {

  /** @param base    DataFrame(idCol, vecCol) — the indexed corpus
    * @param queries DataFrame(qidCol, qvecCol) — the probe set (small; broadcast)
    * @param k       neighbors per query
    * @param metric  "cosine" | "euclidean" (invalid throws, reference src/main.ts:42-44)
    * @return (query_id, neighbor_id, score, rank) with rank in [1,k] by
    *         descending score, ties broken by ascending neighbor id
    */
  def exactKnnJoin(
      base: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "cosine",
      baseId: String = "vec_id",
      baseVec: String = "embedding",
      queryId: String = "query_id",
      queryVec: String = "query_vec",
      scoreDigits: Int = -1): DataFrame = {
    require(k > 0, "k must be positive")
    val simRaw: Column =
      similarity.sim(metric)(col(baseVec), col(queryVec))
    // Rounding before ranking (with the id tie-break) makes the top-k set
    // identical across engines whose float accumulation differs in the last
    // ulp — used by the oracle-checked queries.
    val simCol = if (scoreDigits >= 0) graft.Qutil.rnd(simRaw, scoreDigits) else simRaw
    val scored = base
      .join(broadcast(queries))
      .select(
        col(queryId),
        col(baseId).as("neighbor_id"),
        simCol.as("score"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Candidate cut + rerank of the projected-cosine paths ([[Mrl]],
    * [[Pca]]): the kernel's cut ([[CodeScan.cut]]) keeps `rerank`
    * candidates per query in (tscore DESC, cand_id ASC) order, then
    * [[rerank]] scores them by exact cosine. `scored` must carry
    * (query_id, cand_id, tscore). */
  private[operators] def cosineCandidateRerank(scored: DataFrame,
      base: DataFrame, queries: DataFrame, k: Int, rerank: Int,
      queryId: String, queryVec: String, idCol: String, vecCol: String,
      scoreDigits: Int): DataFrame =
    this.rerank(CodeScan.cut(scored, col("tscore").desc, lit(rerank)), base,
      queries, k, "cosine", queryId, queryVec, idCol, vecCol, scoreDigits)

  /** The one exact-rerank tail of every candidate-generation path (the
    * [[CodeScan]] kernel's families PQ, OPQ, SQ, BQ, IVF-BQ, IVF-PQ,
    * IVF-RaBitQ and RaBitQ, and MRL, PCA): score
    * (query_id, cand_id) candidates on the original vectors by
    * `similarity.sim(metric)` and keep the top-k per query with the
    * battery's (score DESC, neighbor_id ASC) order. `scoreDigits >= 0`
    * rounds scores (fixed-point floor form) BEFORE ranking so an oracle
    * engine reproduces the order. A caller that prunes its rerank store
    * passes the pruned base. Output: (query_id, neighbor_id, score,
    * rank). */
  private[operators] def rerank(cands: DataFrame, base: DataFrame,
      queries: DataFrame, k: Int, metric: String, queryId: String,
      queryVec: String, idCol: String, vecCol: String,
      scoreDigits: Int): DataFrame = {
    val rawScore = similarity.sim(metric)(col("bvec"), col("qvec"))
    val scoreCol =
      if (scoreDigits >= 0) graft.Qutil.rnd(rawScore, scoreDigits) else rawScore
    // candidates are bounded by (probe-batch queries × rerank) — two
    // longs per row — so they BROADCAST and base never shuffles. Left
    // to AQE, the SMJ→BHJ conversion still pays the full base shuffle
    // WRITE before converting: at the 100M point that is a 26 GB spill
    // per serve wave (measured, round 13 — it filled the disk).
    val scored = broadcast(cands)
      .join(base.select(col(idCol).cast("long").as("cand_id"),
        col(vecCol).cast("array<float>").as("bvec")), Seq("cand_id"))
      .join(broadcast(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).cast("array<float>").as("qvec"))), Seq("query_id"))
      .select(col("query_id"), col("cand_id").as("neighbor_id"),
        scoreCol.as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
