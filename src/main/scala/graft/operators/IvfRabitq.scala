package graft.operators

import scala.collection.mutable

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
  * cells' (bits, g) rows (d/8 + 8 bytes/vector), bounded per-partition
  * heaps, a `rerank`-rows-per-query exchange, broadcast-query exact
  * rerank.
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
      val q = qres(j)
      num += (if (((bits(j >> 6) >>> (j & 63)) & 1L) != 0L) q else -q)
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
    knnJoinWith(model, base, queries, k, nprobe, (_, _) => rerank,
      queryId, queryVec, idCol, vecCol, metric, scoreDigits)
  }

  /** Adaptive RERANK: per-query candidate budget scaled to the probed
    * cells' live population (the [[IvfBq.knnJoinAdaptive]] knob on the
    * estimator path). Requires the model's cellCounts. */
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
      (_, cells) => {
        val pop = cells.map(c => model.cellCounts.getOrElse(c, 0L)).sum
        math.max(rerankMin.toLong, math.ceil(rerankFrac * pop).toLong)
          .min(Int.MaxValue).toInt
      },
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
      rerankOf = (_, cells) => {
        val pop = cells.map(c => model.cellCounts.getOrElse(c, 0L)).sum
        math.max(rerankMin.toLong, math.ceil(rerankFrac * pop).toLong)
          .min(Int.MaxValue).toInt
      },
      queryId, queryVec, idCol, vecCol, metric, scoreDigits,
      probeOf = (_, cells) => {
        val keep = mutable.ArrayBuffer.empty[Int]
        var cum = 0L
        var i = 0
        while (i < cells.length &&
            (keep.length < minNprobe || cum < minCandidates)) {
          keep += cells(i)
          cum += model.cellCounts.getOrElse(cells(i), 0L)
          i += 1
        }
        keep.toArray
      })
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
    knnJoinWith(model, base, queries, k, nprobe, (_, _) => rerank,
      queryId, queryVec, idCol, vecCol, metric, scoreDigits, u4 = true)
  }

  private def knnJoinWith(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, rerankOf: (Long, Array[Int]) => Int,
      queryId: String, queryVec: String, idCol: String,
      vecCol: String, metric: String, scoreDigits: Int,
      probeOf: (Long, Array[Int]) => Array[Int] = (_, cs) => cs,
      u4: Boolean = false): DataFrame = {
    require(k > 0 && nprobe > 0)
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val routed = queries.select(col(queryId).cast("long"),
        col(queryVec).cast("array<float>").as("qv"),
        graft.functions.cells.nearest_cells(
          col(queryVec).cast("array<float>"), model.centroids, metric,
          n = nprobe, tieCellDesc = true).as("cells"))
      .as[(Long, Array[Float], Array[Int])].collect()
      .map { case (qid, qv, cells) => (qid, qv, probeOf(qid, cells)) }
    val rot = model.rotation
    val rcs = model.rotCents
    // per probed cell: the query's shifted residual + its norm (exact
    // ascending-j folds — the quantities the oracle recomputes)
    val qres = routed.map { case (qid, qv, cells) =>
      val qrv = Opq.rotate(rot, qv)
      val perCell = cells.map { c =>
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
      (qid, perCell, cells, math.max(rerankOf(qid, cells), k))
    }
    val wanted = routed.flatMap(_._3).distinct.toSeq
    val bcQ = spark.sparkContext.broadcast(qres)
    // u4: the 4-bit query planes are deterministic per (query, probed
    // cell) — quantize once on the driver and broadcast, rather than
    // nQueries x nprobe quantizeQuery calls in EVERY partition (ADVICE
    // r10). ~(4·d/8 + 24) bytes per (query, cell): same order as qres.
    val bcPlanes: org.apache.spark.broadcast.Broadcast[Array[Array[RabitQ.QueryPlanes]]] =
      if (u4) spark.sparkContext.broadcast(
        qres.map { case (_, perCell, _, _) =>
          perCell.map { case (res, _) =>
            RabitQ.quantizeQuery(res.map(_.toFloat))
          }
        })
      else null
    val worstFirst = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    val useU4 = u4
    val numCells = model.rotCents.length
    val pruned = model.encoded.filter(
      graft.functions.cells.cellPruneFilter(col("cell"), wanted))
    val scored = pruned.as[(Int, Long, Array[Long], Double)]
      .mapPartitions { rows =>
        val qs = bcQ.value
        val planes: Array[Array[RabitQ.QueryPlanes]] =
          if (useU4) bcPlanes.value else null
        val heaps = Array.fill(qs.length)(
          mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
        // INVERTED cell → (query, cellIdx) map: a code row is scored
        // only against the queries that actually probe its cell. The
        // previous all-queries membership loop made a serving wave
        // O(probed rows × nQueries) — at the 100M point (1000 queries,
        // most of 1024 cells probed by someone) that was ~60× redundant
        // work per row. Per-query row ORDER is unchanged (same rows,
        // same j sequence), so heap decisions — and results — are
        // bit-identical.
        val cellQs: Array[Array[Long]] = {
          val b = Array.fill(numCells)(
            mutable.ArrayBuffer.empty[Long])
          var q = 0
          while (q < qs.length) {
            val qcells = qs(q)._3
            var c = 0
            while (c < qcells.length) {
              b(qcells(c)) += (q.toLong << 32) | c.toLong
              c += 1
            }
            q += 1
          }
          b.map(_.toArray)
        }
        val chunk = 1024
        val cellBuf = new Array[Int](chunk)
        val idBuf = new Array[Long](chunk)
        val bitBuf = new Array[Array[Long]](chunk)
        val gBuf = new Array[Double](chunk)
        def flush(nRows: Int): Unit = {
          var j = 0
          while (j < nRows) {
            val hits = cellQs(cellBuf(j))
            val id = idBuf(j)
            var hi = 0
            while (hi < hits.length) {
              val q = (hits(hi) >>> 32).toInt
              val cellIdx = (hits(hi) & 0xffffffffL).toInt
              val (_, perCell, _, r) = qs(q)
              val h = heaps(q)
              val (res, nq) = perCell(cellIdx)
              val est =
                if (nq == 0.0) 0.0
                else if (useU4)
                  planes(q)(cellIdx).signDot(bitBuf(j)) * gBuf(j) / nq
                else signDotD(bitBuf(j), res) * gBuf(j) / nq
              val ts = math.floor(est * 1e6 + 0.5) / 1e6
              if (h.size < r) h.enqueue((ts, id))
              else {
                val top = h.head
                if (ts > top._1 || (ts == top._1 && id < top._2)) {
                  h.dequeue(); h.enqueue((ts, id))
                }
              }
              hi += 1
            }
            j += 1
          }
        }
        var nBuf = 0
        rows.foreach { case (cell, id, bits, g) =>
          cellBuf(nBuf) = cell; idBuf(nBuf) = id; bitBuf(nBuf) = bits
          gBuf(nBuf) = g; nBuf += 1
          if (nBuf == chunk) { flush(nBuf); nBuf = 0 }
        }
        if (nBuf > 0) flush(nBuf)
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          val qid = qs(q)._1
          h.iterator.map { case (ts, id) => (qid, id, ts) }
        }
      }.toDF("query_id", "cand_id", "tscore")
    // per-query candidate cut (all rq equal under fixed rerank,
    // population-scaled under the adaptive variants) — the heaps already
    // bound candidates per partition; this is the global cut
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("tscore").desc, col("cand_id").asc)
    val rq = org.apache.spark.sql.functions.broadcast(
      qres.map(t => (t._1, t._4)).toSeq.toDF("query_id", "rq"))
    val topCands = scored
      .withColumn("crank", org.apache.spark.sql.functions.row_number().over(wc))
      .join(rq, Seq("query_id"))
      .filter(col("crank") <= col("rq"))
      .select("query_id", "cand_id")
    // a cell-clustered rerank store prunes to the probed cells' row
    // groups (the 100M small-wave serve was rerank-scan-bound)
    Bq.cosineRerank(topCands,
      graft.functions.cells.pruneRerankBase(base, wanted,
        model.centroids.length),
      queries, k, queryId, queryVec, idCol, vecCol, scoreDigits)
  }

  /** Large-probe-set variant: caps the per-batch collect/broadcast at
    * ~batchRows probes (see [[ProbeBatch]]). */
  def knnJoinBatched(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerank: Int = 100, batchRows: Int = 100000,
      queryId: String = "query_id", queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine", scoreDigits: Int = -1): DataFrame =
    ProbeBatch.batched(queries, batchRows, queryId)(
      knnJoin(model, base, _, k, nprobe, rerank, queryId, queryVec, idCol,
        vecCol, metric, scoreDigits))

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
    def guarded(a: String, b: String): String =
      s"""CASE WHEN isnan(list_cosine_similarity($a, $b)) THEN -1.0
         |        ELSE list_cosine_similarity($a, $b) END""".stripMargin
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
       |   ${guarded("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS s
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
       |   ${guarded("CAST(q.qv AS DOUBLE[])", "c.cvec")} AS s
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
