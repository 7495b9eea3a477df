package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF × RaBitQ: the coarse-quantizer deployment of [[RabitQ]] (the
  * configuration the paper itself ships — rotate each vector's RESIDUAL
  * against its cell centroid, keep sign bits + one correction factor).
  * Where residual IVF×[[Bq]] still ranks by integer Hamming — and the
  * round-10 ladder (BASELINE.md) showed sign-Hamming needs rerank ≈
  * 0.4%·n at d≥768 — the residual RaBitQ estimator is real-valued, so
  * the small-rerank candidate exchange survives embedding widths on
  * clustered corpora too.
  *
  * Residual form chosen for the oracle: `R·v − R·c` (NOT `R·(v−c)`).
  * The two differ only by one float truncation of `R·v` before the
  * subtraction — irrelevant for a 1-bit code — but the first lets both
  * engines share ONE corpus rotation pass ([[Opq.rotate]] /
  * [[Opq.rotListExpr]], already bit-identical) plus C×d literal offsets
  * `Rc[cell] = R·centroid` computed once on the driver in exact
  * ascending-i double loops. Every derived quantity (bits, Σ|·|, Σ(·)²,
  * the ± sum, the per-cell query norm) is an ascending-j left-associative
  * double fold over `(rv[j] − Rc[cell][j])`, mirrored term-by-term in
  * [[duckdbTopkCte]].
  *
  * Cross-cell comparability: within cell c the raw estimator approximates
  * `cos(v−c, q−c)·||q−c||`; dividing by the per-(query, cell) residual
  * norm `||q_r−Rc||` (a constant per probed cell, exact fold) makes the
  * candidate key a residual-cosine estimate in [−1, 1], comparable across
  * a query's probed cells — the same proxy class as residual Hamming,
  * minus the tie mass.
  *
  * Scale shape = [[IvfBq.knnJoin]]: cell-routed scan touches only probed
  * cells' (bits, g) rows (d/8 + 8 bytes/vector) through the kernel
  * ([[CodeScan]]: bounded per-partition heaps, a `rerank`-rows-per-query
  * exchange), then a broadcast-query exact rerank.
  */
object IvfRabitq {

  /** centroids = coarse quantizer; rotation = the shared seeded
    * orthonormal matrix; rotCents(cell) = R·centroid[cell] in exact
    * driver doubles; encoded = (cell, id, bits, g). */
  case class Model(centroids: Array[(Int, Array[Float])],
      rotation: Array[Array[Float]], rotCents: Array[Array[Double]],
      encoded: DataFrame, cellCounts: Map[Int, Long] = Map.empty) {
    def d: Int = rotation.length
  }

  /** `R·c` for one centroid: ascending-i double accumulation per output
    * component — NO float truncation (these are per-cell constants both
    * engines hold as exact double literals). */
  private[graft] def rotateCentroid(r: Array[Array[Float]],
      c: Array[Float]): Array[Double] = {
    val d = c.length
    val out = new Array[Double](d)
    var j = 0
    while (j < d) {
      var acc = 0.0
      var i = 0
      while (i < d) { acc += c(i).toDouble * r(i)(j); i += 1 }
      out(j) = acc
      j += 1
    }
    out
  }

  /** Sign-pack the rotated residual `rv − rc` and its correction factor
    * (the [[RabitQ.encodeVec]] folds over shifted components). */
  private[graft] def encodeResidual(rv: Array[Float],
      rc: Array[Double]): (Array[Long], Double) = {
    val d = rv.length
    val words = new Array[Long]((d + 63) / 64)
    var sumabs = 0.0
    var sumsq = 0.0
    var j = 0
    while (j < d) {
      val x = rv(j).toDouble - rc(j)
      if (x > 0) words(j >> 6) |= (1L << (j & 63))
      sumabs += math.abs(x)
      sumsq += x * x
      j += 1
    }
    val g = if (sumabs == 0.0) 0.0 else math.sqrt(sumsq) / sumabs
    (words, g)
  }

  /** ± sum against a DOUBLE residual query (the query side is already
    * shifted per probed cell). */
  private[graft] def signDotD(bits: Array[Long], qres: Array[Double]): Double = {
    var num = 0.0
    var j = 0
    while (j < qres.length) {
      num += qres(j) * RabitQ.sign(bits, j)
      j += 1
    }
    num
  }

  /** Fit = IVF coarse quantizer + one rotate-and-encode pass over the
    * assigned rows. */
  def fit(base: DataFrame, numCells: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine", lloydSampleN: Int = 100000,
      initCentroids: Option[Array[(Int, Array[Float])]] = None): Model = {
    val ivf = IvfFlat.fit(base, numCells, seed, idCol, vecCol, metric,
      lloydSampleN, 0.0, initCentroids)
    val m = fromIvf(ivf, seed)
    ivf.release()
    m
  }

  /** Build from an already-fitted coarse quantizer (shares the battery's
    * memoized IVF model, so centroid literals line up). */
  def fromIvf(ivf: IvfFlat.Model, seed: Long = 42L): Model = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val head = ivf.assigned.select("vec").as[Array[Float]].head()
    val d = head.length
    val rot = RabitQ.randomRotation(d, seed)
    val cents = ivf.centroids.sortBy(_._1).map(_._2)
    val rotCents = cents.map(rotateCentroid(rot, _))
    val bcR = spark.sparkContext.broadcast(rot)
    val bcRc = spark.sparkContext.broadcast(rotCents)
    val encoded = ivf.assigned
      .select(col("cell").cast("int"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])].mapPartitions { rows =>
        val rcs = bcRc.value
        // blocked kernel: widened matrix + 4-row blocks, bit-identical
        // codes to the scalar rotate (spec-pinned)
        Opq.rotatedRows(bcR.value, rows,
            (t: (Int, Long, Array[Float])) => t._3)
          .map { case ((cell, id, _), rv) =>
            val (bits, g) = encodeResidual(rv, rcs(cell))
            (cell, id, bits, g)
          }
      }.toDF("cell", "id", "bits", "g").persist()
    encoded.count()
    val counts = encoded.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Model(ivf.centroids, rot, rotCents, encoded, counts)
  }

  /** Cell-routed estimator scan + exact cosine rerank. Routing reuses the
    * proven [[graft.functions.cells]] scorer; candidates rank globally by
    * (1e-6-rounded normalized estimator DESC, cand_id). */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(rerank >= k)
    knnJoinWith(model, base, queries, k, nprobe, _ => rerank,
      queryId, queryVec, idCol, vecCol, metric, scoreDigits)
  }

  /** Adaptive RERANK: per-query candidate budget scaled to the probed
    * cells' live population ([[CodeScan.populationBudget]], the
    * [[IvfBq.knnJoinAdaptive]] knob on the estimator path). Requires the
    * model's cellCounts. */
  def knnJoinAdaptive(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerankFrac: Double = 0.1,
      rerankMin: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(rerankFrac > 0.0 && rerankFrac <= 1.0 && rerankMin >= k)
    require(model.cellCounts.nonEmpty,
      "adaptive rerank needs the model's cellCounts")
    knnJoinWith(model, base, queries, k, nprobe,
      CodeScan.populationBudget(model.cellCounts, rerankFrac, rerankMin),
      queryId, queryVec, idCol, vecCol, metric, scoreDigits)
  }

  /** Adaptive NPROBE: each query keeps its ranked cells only until their
    * cumulative live population covers `minCandidates` (dense landings
    * stop early, sparse ones escalate to `maxNprobe`); rerank sized from
    * the kept cells — [[IvfBq.knnJoinAdaptiveProbe]] on the estimator
    * path. Requires cellCounts. */
  def knnJoinAdaptiveProbe(model: Model, base: DataFrame,
      queries: DataFrame, k: Int, maxNprobe: Int = 16, minNprobe: Int = 1,
      minCandidates: Int = 2000, rerankFrac: Double = 0.1,
      rerankMin: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(maxNprobe >= minNprobe && minNprobe >= 1 && minCandidates >= 0)
    require(rerankFrac > 0.0 && rerankFrac <= 1.0 && rerankMin >= k)
    require(model.cellCounts.nonEmpty,
      "adaptive probing needs the model's cellCounts")
    knnJoinWith(model, base, queries, k, maxNprobe,
      CodeScan.populationBudget(model.cellCounts, rerankFrac, rerankMin),
      queryId, queryVec, idCol, vecCol, metric, scoreDigits,
      CodeScan.trimToPopulation(model.cellCounts, minNprobe, minCandidates))
  }

  /** Production kernel: per-cell query residuals quantized to 4-bit
    * bit-sliced planes (the [[RabitQ.knnJoinU4]] trick applied per probed
    * cell) — five AND+popcount passes per candidate instead of the O(d)
    * float fold, so the scan cost stops growing with d. Candidate sets
    * differ from [[knnJoin]] only within the query-quantization error
    * (spec-pinned recall parity); NOT the oracle path. */
  def knnJoinU4(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding", metric: String = "cosine",
      scoreDigits: Int = -1): DataFrame = {
    require(rerank >= k)
    knnJoinWith(model, base, queries, k, nprobe, _ => rerank,
      queryId, queryVec, idCol, vecCol, metric, scoreDigits, u4 = true)
  }

  /** One code-table row as the scan reads it. */
  private type CodeRow = (Int, Long, Array[Long], Double)

  private def knnJoinWith(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerankOf: Array[Int] => Int,
      queryId: String, queryVec: String, idCol: String,
      vecCol: String, metric: String, scoreDigits: Int,
      probeOf: Array[Int] => Array[Int] = identity,
      u4: Boolean = false): DataFrame = {
    require(k > 0 && nprobe > 0)
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val routed = CodeScan.routeCells(queries, model.centroids, metric, nprobe,
      queryId, queryVec, probeOf)
    val rot = model.rotation
    val rcs = model.rotCents
    // per probed cell: the query's shifted residual + its norm (exact
    // ascending-j folds — the quantities the oracle recomputes)
    val qres = routed.map { case (_, qv, cells) =>
      val qrv = Opq.rotate(rot, qv)
      cells.map { c =>
        val rc = rcs(c)
        val res = new Array[Double](qrv.length)
        var nsq = 0.0
        var j = 0
        while (j < qrv.length) {
          val x = qrv(j).toDouble - rc(j)
          res(j) = x
          nsq += x * x
          j += 1
        }
        (res, math.sqrt(nsq))
      }
    }
    val wanted = routed.flatMap(_._3).distinct.toSeq
    val bcQ = spark.sparkContext.broadcast(qres)
    // u4: the 4-bit query planes are deterministic per (query, probed
    // cell) — quantize once on the driver and broadcast, rather than
    // nQueries x nprobe quantizeQuery calls in EVERY partition.
    // ~(4·d/8 + 24) bytes per (query, cell): same order as qres.
    val bcPlanes = if (!u4) null else spark.sparkContext.broadcast(
      qres.map(_.map { case (res, _) => RabitQ.quantizeQuery(res.map(_.toFloat)) }))
    val pruned = model.encoded.filter(
      graft.functions.cells.cellPruneFilter(col("cell"), wanted))
    val topCands = CodeScan.topCandidates(pruned.as[CodeRow],
      routed.map { case (qid, _, cells) =>
        CodeScan.Probe(qid, cells, rerankOf(cells)) },
      (t: CodeRow) => t._2, Some((t: CodeRow) => t._1),
      () => new CodeScan.Scorer[CodeRow] {
        private val qs = bcQ.value
        private val planes = if (u4) bcPlanes.value else null
        def score(q: Int, slot: Int, rows: Array[CodeRow], from: Int, until: Int,
            out: Array[Double]): Unit = {
          val (res, nq) = qs(q)(slot)
          var j = from
          while (j < until) {
            val row = rows(j)
            val est =
              if (nq == 0.0) 0.0
              else if (u4) planes(q)(slot).signDot(row._3) * row._4 / nq
              else signDotD(row._3, res) * row._4 / nq
            // the negated 1e-6-rounded estimator: (tscore DESC, cand_id)
            out(j) = 0.0 - graft.Qutil.rnd(est, 1e6)
            j += 1
          }
        }
      })
    // a cell-clustered rerank store prunes to the probed cells' row
    // groups (the 100M small-wave serve was rerank-scan-bound)
    KnnJoin.rerank(topCands,
      graft.functions.cells.pruneRerankBase(base, wanted,
        model.centroids.length),
      queries, k, "cosine", queryId, queryVec, idCol, vecCol, scoreDigits)
  }

  private def foldExpr(d: Int, term: Int => String): String =
    (0 until d).map(term).mkString("\n      + ")

  /** Composed DuckDB oracle: the `knn_ivf_cosine` assignment/routing CTEs
    * (centroid literals, NaN-guarded cosine, (s desc, cell desc) ties) ×
    * the shared [[Opq.rotListExpr]] rotation CTE × per-cell `R·c` literal
    * offsets → residual folds → normalized-estimator candidates →
    * rounded-cosine rerank → `ivfrbq_topk`. */
  def duckdbTopkCte(centroids: Array[(Int, Array[Float])],
      rotation: Array[Array[Float]], rotCents: Array[Array[Double]],
      nprobe: Int, rerank: Int = 100, k: Int = 10,
      nQueries: Int = 100): String = {
    val d = rotation.length
    val centRows = centroids.map { case (c, v) =>
      s"($c, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n   ")
    val rcRows = rotCents.zipWithIndex.map { case (rc, c) =>
      s"($c, CAST([${rc.map(_.toString).mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n   ")
    val resTerm = (pv: String, j: Int) =>
      s"(CAST($pv[${j + 1}] AS DOUBLE) - rc.rcvec[${j + 1}])"
    val sumAbs = foldExpr(d, j => s"abs(${resTerm("pv", j)})")
    val sumSq = foldExpr(d, j => s"${resTerm("pv", j)}*${resTerm("pv", j)}")
    val qSumSq = foldExpr(d, j => s"${resTerm("qpv", j)}*${resTerm("qpv", j)}")
    val signDot = foldExpr(d, j =>
      s"(CASE WHEN (CAST(e.pv[${j + 1}] AS DOUBLE) - rc.rcvec[${j + 1}]) > 0" +
        s" THEN (CAST(q.qpv[${j + 1}] AS DOUBLE) - rc.rcvec[${j + 1}])" +
        s" ELSE -(CAST(q.qpv[${j + 1}] AS DOUBLE) - rc.rcvec[${j + 1}]) END)")
    s"""WITH ivf_cents(cell, cvec) AS (VALUES
       |   $centRows),
       | rbq_rc(cell, rcvec) AS (VALUES
       |   $rcRows),
       | rbq_pv AS (
       |  SELECT vec_id, embedding,
       |   [${Opq.rotListExpr(rotation, "embedding")}] AS pv
       |  FROM embeddings),
       | ivf_sim AS (
       |  SELECT e.vec_id, c.cell,
       |   ${IvfFlat.duckdbGuardedCosine("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS s
       |  FROM embeddings e CROSS JOIN ivf_cents c),
       | ivf_assigned AS (
       |  SELECT vec_id, cell FROM (
       |   SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ivf_sim) WHERE rn = 1),
       | rbq_enc AS (
       |  SELECT a.vec_id, a.cell, p.pv,
       |   ($sumAbs) AS sumabs,
       |   ($sumSq) AS sumsq
       |  FROM ivf_assigned a JOIN rbq_pv p ON p.vec_id = a.vec_id
       |   JOIN rbq_rc rc ON rc.cell = a.cell),
       | rbq_g AS (
       |  SELECT vec_id, cell, pv,
       |   CASE WHEN sumabs = 0 THEN 0.0 ELSE sqrt(sumsq)/sumabs END AS g
       |  FROM rbq_enc),
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
       | rbq_qres AS (
       |  SELECT qc.query_id, qc.cell, p.pv AS qpv,
       |   sqrt($qSumSq) AS nq
       |  FROM ivf_qcells qc JOIN rbq_pv p ON p.vec_id = qc.query_id
       |   JOIN rbq_rc rc ON rc.cell = qc.cell),
       | rbq_tr AS (SELECT q.query_id, e.vec_id AS cand_id,
       |    floor((CASE WHEN q.nq = 0 THEN 0.0
       |      ELSE (($signDot) * e.g) / q.nq END)*1e6 + 0.5)/1e6 AS tscore
       |   FROM rbq_g e
       |    JOIN rbq_qres q ON q.cell = e.cell
       |    JOIN rbq_rc rc ON rc.cell = e.cell),
       | rbq_cand AS (SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY tscore DESC, cand_id) AS cr FROM rbq_tr) WHERE cr <= $rerank),
       | rbq_rer AS (SELECT c.query_id, c.cand_id AS neighbor_id,
       |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
       |   FROM rbq_cand c JOIN embeddings e ON e.vec_id = c.cand_id
       |    JOIN ivf_q q ON q.query_id = c.query_id),
       | ivfrbq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM rbq_rer)
       |  WHERE rank <= $k)""".stripMargin
  }
}
