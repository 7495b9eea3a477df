package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF × binary quantization: the composition the round-8 compressed-scan
  * ladder measured its way to. Standalone BQ needs rerank ∝ n to hold
  * recall, and past ~1000 the P×nq×rerank candidate exchange eats the
  * 32×-compression scan win (BASELINE.md round-8). Routing the Hamming
  * scan through IVF cells divides BOTH costs by nprobe/C — the scan
  * touches only probed cells' code rows and the exchange carries only
  * their survivors — which is exactly how binary codes are deployed at
  * scale (always behind a coarse quantizer).
  *
  * Every stage reuses proven parts: cell assignment/routing is the
  * [[graft.functions.CellScorer]] expression (the `knn_ivf_cosine`
  * semantics, bit-parity-pinned), codes are [[Bq]]'s midrange sign bits,
  * candidates rank by the integer (hamming, cand_id) order, and the
  * bounded exact rerank is the battery's rounded-cosine contract — so
  * the WHOLE composed pipeline is cross-engine oracle-checkable from the
  * trained centroid literals, like IVF-PQ.
  */
object IvfBq {

  /** centroids = the coarse quantizer; thresholds = global per-dim
    * midrange cut points (empty in residual mode); encoded = (cell, id,
    * bits) — the cell-partitioned packed code table (8 bytes/vector at
    * d=64). `residual = true` codes the SIGN OF THE RESIDUAL v −
    * centroid[cell] per dimension instead of a global midrange cut. */
  case class Model(centroids: Array[(Int, Array[Float])],
      thresholds: Array[Double], encoded: DataFrame,
      residual: Boolean = false,
      cellCounts: Map[Int, Long] = Map.empty)

  /** bit j set iff v_j > cent_j — the residual-sign code in cell
    * `cent`'s frame (exact double comparisons; float values compare
    * identically after the lossless upcast, which is what makes the
    * composed oracle exact). */
  private[graft] def packResidualBits(v: Array[Float],
      cent: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) / 64)
    var j = 0
    while (j < v.length) {
      if (v(j).toDouble > cent(j).toDouble) words(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    words
  }

  /** Fit = IVF coarse quantizer + code pass over the assigned rows.
    * `metric` routes cells (the reranker is always cosine, matching
    * [[Bq]]). Residual mode (default) is the configuration for
    * CLUSTERED corpora: inside a tight cluster every member sits on the
    * same side of a GLOBAL midrange for most dimensions, so global sign
    * codes cannot rank within the cluster (measured at 10M: recall
    * pinned at rerank/cluster-size regardless of nprobe — BASELINE.md
    * round-8); residual signs are centered per cell and discriminate
    * exactly where the probe lands. */
  def fit(base: DataFrame, numCells: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine", lloydSampleN: Int = 100000,
      balanceSlack: Double = 0.0, residual: Boolean = true,
      initCentroids: Option[Array[(Int, Array[Float])]] = None): Model = {
    val ivf = IvfFlat.fit(base, numCells, seed, idCol, vecCol, metric,
      lloydSampleN, balanceSlack, initCentroids)
    val m = fromIvf(ivf, residual)
    // the transient quantizer's persisted assignment is fully consumed
    // by the (already materialized) code table — release it here, or
    // every fit leaks an n-row cache entry nothing can reach
    // (callers who want a shared quantizer use fromIvf directly)
    ivf.release()
    m
  }

  /** Build from an already-fitted coarse quantizer (shares the battery's
    * memoized IVF model — same centroids, so oracle literals line up). */
  def fromIvf(ivf: IvfFlat.Model, residual: Boolean = true): Model = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val thr =
      if (residual) Array.empty[Double]
      else Bq.fitThresholds(ivf.assigned.select(col("id"), col("vec")))
    val bcT = spark.sparkContext.broadcast(thr)
    val bcCents = spark.sparkContext.broadcast(
      ivf.centroids.sortBy(_._1).map(_._2))
    val encoded = ivf.assigned
      .select(col("cell").cast("int"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])].mapPartitions { rows =>
        val t = bcT.value
        val cents = bcCents.value
        rows.map { case (cell, id, v) =>
          val bits =
            if (t.isEmpty) packResidualBits(v, cents(cell))
            else Bq.packBits(v, t)
          (cell, id, bits)
        }
      }.toDF("cell", "id", "bits").persist()
    encoded.count()
    // per-cell populations (C tiny rows) — the sizing input for
    // [[knnJoinAdaptive]]'s per-query overfetch
    val counts = encoded.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Model(ivf.centroids, thr, encoded, residual, counts)
  }

  /** Cell-routed Hamming scan + exact cosine rerank: probes route to
    * their `nprobe` nearest cells via the proven scorer expression, only
    * those cells' code rows are scanned (the kernel, [[CodeScan]]),
    * candidates cut at the integer (hamming, cand_id)
    * order, bounded rounded-cosine rerank on the originals. */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(rerank >= k)
    knnJoinWith(model, base, queries, k, nprobe, _ => rerank,
      queryId, queryVec, idCol, vecCol, metric, scoreDigits)
  }

  /** Per-query ADAPTIVE overfetch: the 10M study's law — recall is a
    * function of rerank / probed-cell population — turned into the knob.
    * Each query's rerank = max(`rerankMin`, ceil(`rerankFrac` × Σ
    * population of its probed cells)) ([[CodeScan.populationBudget]]), so
    * recall holds as cells grow instead of silently decaying under one
    * global rerank. `rerankFrac = 1` with all cells probed degenerates to
    * exact (spec-pinned). */
  def knnJoinAdaptive(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerankFrac: Double = 0.1,
      rerankMin: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(rerankFrac > 0.0 && rerankFrac <= 1.0 && rerankMin >= k)
    require(model.cellCounts.nonEmpty,
      "adaptive rerank needs the model's cellCounts (refit with this build)")
    knnJoinWith(model, base, queries, k, nprobe,
      CodeScan.populationBudget(model.cellCounts, rerankFrac, rerankMin),
      queryId, queryVec, idCol, vecCol, metric, scoreDigits)
  }

  /** ADAPTIVE NPROBE: each query probes its ranked cells only until
    * their cumulative LIVE population covers `minCandidates` (and at
    * least `minNprobe` cells), instead of a fixed cell count — a query
    * landing in dense cells stops early, one landing in sparse cells
    * keeps probing up to `maxNprobe` ([[CodeScan.trimToPopulation]]). The
    * per-query analog of [[knnJoinAdaptive]]'s rerank sizing, and
    * composable with it: the rerank is sized from the cells actually
    * kept. Requires cellCounts (build with counts). */
  def knnJoinAdaptiveProbe(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, maxNprobe: Int = 16, minNprobe: Int = 1,
      minCandidates: Int = 2000, rerankFrac: Double = 0.1,
      rerankMin: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(maxNprobe >= minNprobe && minNprobe >= 1 && minCandidates >= 0)
    require(rerankFrac > 0.0 && rerankFrac <= 1.0 && rerankMin >= k)
    require(model.cellCounts.nonEmpty,
      "adaptive probing needs the model's cellCounts (build withCounts)")
    knnJoinWith(model, base, queries, k, maxNprobe,
      CodeScan.populationBudget(model.cellCounts, rerankFrac, rerankMin),
      queryId, queryVec, idCol, vecCol, metric, scoreDigits,
      CodeScan.trimToPopulation(model.cellCounts, minNprobe, minCandidates))
  }

  /** One code-table row as the scan reads it. */
  private type CodeRow = (Int, Long, Array[Long])

  private def knnJoinWith(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerankOf: Array[Int] => Int,
      queryId: String, queryVec: String, idCol: String,
      vecCol: String, metric: String, scoreDigits: Int,
      probeOf: Array[Int] => Array[Int] = identity): DataFrame = {
    require(k > 0 && nprobe > 0)
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val routed = CodeScan.routeCells(queries, model.centroids, metric, nprobe,
      queryId, queryVec, probeOf)
    // residual mode: one code per PROBED CELL per query — candidates in
    // cell c compare against the query's cell-c residual signs
    val cents = model.centroids.sortBy(_._1).map(_._2)
    val bcQ = spark.sparkContext.broadcast(routed.map { case (_, qv, cells) =>
      if (model.residual) cells.map(c => packResidualBits(qv, cents(c)))
      else {
        val b = Bq.packBits(qv, model.thresholds)
        cells.map(_ => b)
      }
    })
    val wanted = routed.flatMap(_._3).distinct.toSeq
    val pruned = model.encoded.filter(
      graft.functions.cells.cellPruneFilter(col("cell"), wanted))
    val topCands = CodeScan.topCandidates(pruned.as[CodeRow],
      routed.map { case (qid, _, cells) =>
        CodeScan.Probe(qid, cells, rerankOf(cells)) },
      (t: CodeRow) => t._2, Some((t: CodeRow) => t._1),
      () => new CodeScan.Scorer[CodeRow] {
        private val qbits = bcQ.value
        def score(q: Int, slot: Int, rows: Array[CodeRow], from: Int, until: Int,
            out: Array[Double]): Unit = {
          val qb = qbits(q)(slot)
          var j = from
          while (j < until) { out(j) = Bq.hamming(qb, rows(j)._3); j += 1 }
        }
      })
    // a cell-clustered rerank store prunes to the probed cells' row
    // groups (the 100M small-wave serve was rerank-scan-bound)
    KnnJoin.rerank(topCands,
      graft.functions.cells.pruneRerankBase(base, wanted,
        model.centroids.length),
      queries, k, "cosine", queryId, queryVec, idCol, vecCol, scoreDigits)
  }

  /** Composed DuckDB oracle from the trained centroid literals: the
    * `knn_ivf_cosine` assignment/routing CTEs (NaN-guarded cosine, (s
    * desc, cell desc) ties) × the [[Bq]] bits CTEs, hamming restricted
    * to candidates in each query's probed cells, (hd, cand_id)
    * top-`rerank`, rounded-cosine rerank → `ivfbq_topk`. */
  def duckdbTopkCte(centroids: Array[(Int, Array[Float])], d: Int,
      nprobe: Int, rerank: Int = 100, k: Int = 10,
      nQueries: Int = 100, residual: Boolean = false): String = {
    val rows = centroids.map { case (c, v) =>
      s"($c, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n   ")
    s"""WITH ivf_cents(cell, cvec) AS (VALUES
       |   $rows),
       | ivf_sim AS (
       |  SELECT e.vec_id, c.cell,
       |   ${IvfFlat.duckdbGuardedCosine("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS s
       |  FROM embeddings e CROSS JOIN ivf_cents c),
       | ivf_assigned AS (
       |  SELECT vec_id, cell FROM (
       |   SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ivf_sim) WHERE rn = 1),
       | ivf_q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < $nQueries),
       | ivf_qsim AS (
       |  SELECT q.query_id, c.cell,
       |   ${IvfFlat.duckdbGuardedCosine("CAST(q.qv AS DOUBLE[])", "c.cvec")} AS s
       |  FROM ivf_q q CROSS JOIN ivf_cents c),
       | ivf_qcells AS (
       |  SELECT query_id, cell FROM (
       |   SELECT query_id, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ivf_qsim) WHERE rn <= $nprobe),
       | dims AS (SELECT CAST(unnest(range(1, ${d + 1})) AS INT) AS i),${
      if (residual)
        s"""
       | bits AS (SELECT a.vec_id, a.cell, dm.i,
       |    CASE WHEN CAST(e.embedding[dm.i] AS DOUBLE) > c.cvec[dm.i]
       |         THEN 1 ELSE 0 END AS b
       |   FROM ivf_assigned a JOIN embeddings e ON e.vec_id = a.vec_id
       |    JOIN ivf_cents c ON c.cell = a.cell CROSS JOIN dims dm),
       | qbits AS (SELECT qc.query_id, qc.cell, dm.i,
       |    CASE WHEN CAST(q.qv[dm.i] AS DOUBLE) > c.cvec[dm.i]
       |         THEN 1 ELSE 0 END AS b
       |   FROM ivf_qcells qc JOIN ivf_q q USING (query_id)
       |    JOIN ivf_cents c ON c.cell = qc.cell CROSS JOIN dims dm),
       | ham AS (SELECT qb.query_id, b.vec_id AS cand_id,
       |    CAST(sum(CASE WHEN b.b <> qb.b THEN 1 ELSE 0 END) AS BIGINT) AS hd
       |   FROM bits b JOIN qbits qb ON qb.cell = b.cell AND qb.i = b.i
       |   GROUP BY 1, 2),"""
      else
        s"""
       | comps AS (SELECT e.vec_id, dm.i, CAST(e.embedding[dm.i] AS DOUBLE) AS x
       |           FROM embeddings e CROSS JOIN dims dm),
       | stats AS (SELECT i, (min(x) + max(x))/2.0 AS thr
       |           FROM comps GROUP BY i),
       | bits AS (SELECT c.vec_id, c.i,
       |    CASE WHEN c.x > s.thr THEN 1 ELSE 0 END AS b
       |   FROM comps c JOIN stats s USING (i)),
       | ham AS (SELECT qc.query_id, a.vec_id AS cand_id,
       |    CAST(sum(CASE WHEN b.b <> qb.b THEN 1 ELSE 0 END) AS BIGINT) AS hd
       |   FROM ivf_qcells qc
       |    JOIN ivf_assigned a USING (cell)
       |    JOIN bits b ON b.vec_id = a.vec_id
       |    JOIN bits qb ON qb.vec_id = qc.query_id AND qb.i = b.i
       |   GROUP BY 1, 2),"""}
       | cand AS (SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY hd, cand_id) AS cr FROM ham) WHERE cr <= $rerank),
       | rer AS (SELECT c.query_id, c.cand_id AS neighbor_id,
       |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
       |   FROM cand c JOIN embeddings e ON e.vec_id = c.cand_id
       |    JOIN ivf_q q ON q.query_id = c.query_id),
       | ivfbq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM rer)
       |  WHERE rank <= $k)""".stripMargin
  }
}
