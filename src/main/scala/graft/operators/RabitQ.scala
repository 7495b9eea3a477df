package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RaBitQ-style binary quantization (Gao & Long, SIGMOD 2024 — public):
  * rotate every vector by one seeded random orthonormal matrix, keep the
  * SIGN bit of each rotated component, and store ONE per-vector scalar
  * correction factor `g = ||o_r|| / Σ_j |o_r[j]|`. The query-time score
  *
  *   est(o, q) = (Σ_j ±q_r[j]) · g_o      (+ where o's bit j is set)
  *
  * is, up to a per-query constant, the paper's unbiased estimator
  * `⟨x̄,q̂⟩ / ⟨x̄,ô⟩` of the cosine `⟨ô,q̂⟩`, with error O(1/√d) — it
  * IMPROVES with dimension. That is exactly the regime where plain
  * midrange sign codes ([[Bq]]) fail: the round-10 compressed-scan ladder
  * (BASELINE.md) measured BQ recall@100 collapsing to 0.2–0.4 at d≥768
  * because thousands of candidates tie on d-bit Hamming distance, forcing
  * `rerank ≈ 0.4%·n`. RaBitQ's estimator is real-valued — no tie mass —
  * so small reranks survive embedding widths at the SAME code budget
  * (d bits + one 8-byte factor ≈ BQ's d bits).
  *
  * Cross-engine determinism (the battery oracle contract): the rotation
  * is trained-literal data emitted via [[Opq.rotListExpr]] — one explicit
  * left-associative IEEE dot product per component, truncated to float,
  * bit-identical to [[Opq.rotate]]'s ascending-i loop. Every derived
  * quantity (sign bits, Σ|·|, Σ(·)², the ± query sum) is an ascending-j
  * left-associative fold over those floats, mirrored term-by-term in
  * [[duckdbTopkCte]]; the candidate key is the 1e-6-rounded estimator
  * with `cand_id` tiebreak, then the battery's shared rounded-cosine
  * rerank ([[KnnJoin.rerank]]).
  *
  * Scale shape (100 TB): fit is one seeded Gram–Schmidt on the driver
  * (d×d doubles — microscopic) + one no-shuffle encode pass; search scans
  * only (bits, g) — d/8 + 8 bytes/vector — with per-partition bounded
  * heaps, a `rerank`-rows-per-query candidate exchange, and a
  * broadcast-query rerank join. [[knnJoinU4]] is the production kernel:
  * the rotated query is quantized to 4-bit levels and the ± sum becomes
  * five AND+popcount passes over the packed words (the paper's bit-sliced
  * trick) — no per-dimension float work in the scan at all.
  */
object RabitQ {

  /** rotation is row-major d×d ([[Opq.rotate]] convention: out(j) =
    * Σ_i v(i)·r(i)(j)); encoded is the persisted (id, bits array&lt;long&gt;,
    * g double) code table — ceil(d/64) words + one factor per row. */
  case class Model(rotation: Array[Array[Float]], encoded: DataFrame) {
    def d: Int = rotation.length
  }

  /** Seeded random orthonormal matrix: Gaussian entries in fixed (i,j)
    * order, modified Gram–Schmidt over columns, each diagonal sign-fixed
    * positive — fully deterministic given (d, seed), no LAPACK involved
    * (breeze QR delegates to native code whose pivoting we'd rather not
    * depend on for bit-stable oracle literals). */
  private[graft] def randomRotation(d: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    // cols(j)(i): column-major while orthonormalizing
    val cols = Array.ofDim[Double](d, d)
    var j = 0
    while (j < d) {
      var i = 0
      while (i < d) { cols(j)(i) = rnd.nextGaussian(); i += 1 }
      j += 1
    }
    j = 0
    while (j < d) {
      val c = cols(j)
      var p = 0
      while (p < j) {
        val prev = cols(p)
        var dot = 0.0
        var i = 0
        while (i < d) { dot += c(i) * prev(i); i += 1 }
        i = 0
        while (i < d) { c(i) -= dot * prev(i); i += 1 }
        p += 1
      }
      var nrm = 0.0
      var i = 0
      while (i < d) { nrm += c(i) * c(i); i += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 1e-12, s"degenerate Gram-Schmidt column $j (seed $seed)")
      val flip = if (c(j) < 0) -1.0 else 1.0
      i = 0
      while (i < d) { c(i) = c(i) / nrm * flip; i += 1 }
      j += 1
    }
    Array.tabulate(d, d)((i, jj) => cols(jj)(i).toFloat)
  }

  /** Sign-pack a ROTATED vector and compute its correction factor
    * `g = sqrt(Σ x²) / Σ|x|` (ascending-j left-associative double folds —
    * the exact sequence [[duckdbTopkCte]]'s literal sums reproduce).
    * Zero vector → g = 0 (estimator 0 for every query, same both
    * engines). */
  private[graft] def encodeVec(rv: Array[Float]): (Array[Long], Double) = {
    val d = rv.length
    val words = new Array[Long]((d + 63) / 64)
    var sumabs = 0.0
    var sumsq = 0.0
    var j = 0
    while (j < d) {
      val x = rv(j).toDouble
      if (rv(j) > 0f) words(j >> 6) |= (1L << (j & 63))
      sumabs += math.abs(x)
      sumsq += x * x
      j += 1
    }
    val g = if (sumabs == 0.0) 0.0 else math.sqrt(sumsq) / sumabs
    (words, g)
  }

  /** The estimator's ± sum: Σ_j (bit_j ? +q_r[j] : −q_r[j]), ascending j,
    * double accumulation — the oracle-matched exact kernel (the battery
    * path; [[knnJoinU4]] is the popcount production kernel). */
  private[graft] def signDot(bits: Array[Long], qrv: Array[Float]): Double = {
    var num = 0.0
    var j = 0
    while (j < qrv.length) {
      num += qrv(j).toDouble * sign(bits, j)
      j += 1
    }
    num
  }

  /** +1.0 when bit j is set, else −1.0. Multiplying by it is exact (the
    * same double as choosing q or −q) and has no branch: a query-major
    * scan meets a new bit pattern with every row, so a branch on the bit
    * mispredicts about half the time. */
  @inline private[graft] def sign(bits: Array[Long], j: Int): Double =
    ((((bits(j >> 6) >>> (j & 63)) & 1L) << 1) - 1L).toDouble

  /** Rotate (seeded), sign-pack, factor — one no-shuffle corpus pass with
    * the d×d rotation broadcast. Deterministic for fixed (seed, data). */
  def fit(base: DataFrame, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): Model = {
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val d = src.select("vec").as[Array[Float]].head().length
    val rot = randomRotation(d, seed)
    val bcR = spark.sparkContext.broadcast(rot)
    val encoded = src.as[(Long, Array[Float])].mapPartitions { rows =>
      // blocked kernel (Opq.rotatedRows): widened matrix + 4-row blocks,
      // bit-identical codes to the scalar rotate (spec-pinned)
      Opq.rotatedRows(bcR.value, rows, (t: (Long, Array[Float])) => t._2)
        .map { case ((id, _), rv) =>
          val (bits, g) = encodeVec(rv)
          (id, bits, g)
        }
    }.toDF("id", "bits", "g").persist()
    encoded.count()
    Model(rot, encoded)
  }

  /** Estimator scan + exact cosine top-k rerank on the original vectors.
    * Candidate order is (1e-6-rounded estimator DESC, cand_id) — the
    * integer-safe total order [[duckdbTopkCte]] ranks by — and
    * `scoreDigits = 6` applies the battery's rounded-cosine rerank
    * contract. Probes collect/rotate on the driver (bounded; cap with
    * [[ProbeBatch.batched]]). */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1): DataFrame =
    scanKnn(model, base, queries, k, rerank, queryId, queryVec, idCol,
      vecCol, scoreDigits, u4 = false)

  /** Production kernel: quantize the rotated query to 16 uniform levels
    * and evaluate the ± sum as five AND+popcount passes over the packed
    * words (bit-sliced 4-bit planes) — zero per-dimension float work in
    * the scan. Candidate sets differ from [[knnJoin]] only within the
    * query-quantization error (spec-pinned recall parity); NOT the oracle
    * path (the plane popcount order is not the oracle's ascending-j
    * fold). */
  def knnJoinU4(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1): DataFrame =
    scanKnn(model, base, queries, k, rerank, queryId, queryVec, idCol,
      vecCol, scoreDigits, u4 = true)

  /** One code-table row as the scan reads it. */
  private type CodeRow = (Long, Array[Long], Double)

  private def scanKnn(model: Model, base: DataFrame, queries: DataFrame,
      k: Int, rerank: Int, queryId: String, queryVec: String, idCol: String,
      vecCol: String, scoreDigits: Int, u4: Boolean): DataFrame = {
    require(k > 0 && rerank >= k, s"need 0 < k <= rerank, got k=$k rerank=$rerank")
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val rr = model.rotation
    val probes = CodeScan.collectProbes(queries, queryId, queryVec)
      .map { case (qid, qv) => (qid, Opq.rotate(rr, qv)) }
    val bcQ = spark.sparkContext.broadcast(probes.map(_._2))
    val topCands = CodeScan.topCandidates(model.encoded.as[CodeRow],
      probes.map { case (qid, _) => CodeScan.Probe(qid, Array(0), rerank) },
      (t: CodeRow) => t._1, None,
      () => new CodeScan.Scorer[CodeRow] {
        private val qs = bcQ.value
        private val planes = if (u4) qs.map(quantizeQuery) else null
        def score(q: Int, slot: Int, rows: Array[CodeRow], from: Int, until: Int,
            out: Array[Double]): Unit = {
          val qrv = qs(q)
          var j = from
          while (j < until) {
            val row = rows(j)
            val num = if (u4) planes(q).signDot(row._2) else signDot(row._2, qrv)
            // the negated 1e-6-rounded estimator: (tscore DESC, cand_id)
            out(j) = 0.0 - graft.Qutil.rnd(num * row._3, 1e6)
            j += 1
          }
        }
      })
    KnnJoin.rerank(topCands, base, queries, k, "cosine", queryId, queryVec,
      idCol, vecCol, scoreDigits)
  }

  /** 4-bit bit-sliced query: q̃(j) = lo + delta·u(j), u ∈ [0,15], planes
    * p_b hold bit b of u. Then Σ_j ±q̃(j) = lo·(2·pop(bits)−d) +
    * delta·(2·Σ_b 2^b·pop(bits∧p_b) − T) — five popcount passes, no
    * float loop. */
  private[graft] final class QueryPlanes(val d: Int, val lo: Double,
      val delta: Double, val planes: Array[Array[Long]], val tSum: Long)
      extends Serializable {
    def signDot(bits: Array[Long]): Double = {
      var pop = 0
      var w = 0
      while (w < bits.length) { pop += java.lang.Long.bitCount(bits(w)); w += 1 }
      var s = 0L
      var b = 0
      while (b < 4) {
        val p = planes(b)
        var acc = 0
        var i = 0
        while (i < p.length) { acc += java.lang.Long.bitCount(bits(i) & p(i)); i += 1 }
        s += acc.toLong << b
        b += 1
      }
      lo * (2 * pop - d) + delta * (2 * s - tSum)
    }
  }

  private[graft] def quantizeQuery(qrv: Array[Float]): QueryPlanes = {
    val d = qrv.length
    var lo = Double.MaxValue
    var hi = Double.MinValue
    var j = 0
    while (j < d) {
      val x = qrv(j).toDouble
      if (x < lo) lo = x
      if (x > hi) hi = x
      j += 1
    }
    val delta = if (hi > lo) (hi - lo) / 15.0 else 1.0
    val words = (d + 63) / 64
    val planes = Array.ofDim[Long](4, words)
    var tSum = 0L
    j = 0
    while (j < d) {
      val u = math.max(0, math.min(15,
        math.round((qrv(j).toDouble - lo) / delta).toInt))
      tSum += u
      var b = 0
      while (b < 4) {
        if (((u >> b) & 1) != 0) planes(b)(j >> 6) |= (1L << (j & 63))
        b += 1
      }
      j += 1
    }
    new QueryPlanes(d, lo, delta, planes, tSum)
  }

  /** Store CRUD (the battery's model-store contract): codes + rotation as
    * parquet; load-missing → None. */
  def save(model: Model, path: String): Unit = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    model.encoded.write.mode("overwrite").parquet(s"$path/codes")
    val d = model.d
    (for (i <- 0 until d; j <- 0 until d)
      yield (i * d + j, model.rotation(i)(j))).toDF("i", "w").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  def load(spark: SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/rotation"))) return None
    import spark.implicits._
    val flat = spark.read.parquet(s"$path/rotation")
      .as[(Int, Float)].collect().sortBy(_._1).map(_._2)
    val d = math.sqrt(flat.length.toDouble).toInt
    require(d * d == flat.length, s"rotation store is not square: ${flat.length}")
    val rot = Array.tabulate(d, d)((i, j) => flat(i * d + j))
    Some(Model(rot, spark.read.parquet(s"$path/codes")))
  }

  def delete(spark: SparkSession, path: String): Unit = Pq.delete(spark, path)

  /** Explicit left-associative `Σ_j ±q[j]` with the branch on the
    * candidate's rotated sign — term-by-term the [[signDot]] loop. */
  private def signDotExpr(d: Int, candPv: String, queryPv: String): String =
    (0 until d).map { j =>
      s"(CASE WHEN $candPv[${j + 1}] > 0 THEN CAST($queryPv[${j + 1}] AS DOUBLE)" +
        s" ELSE -CAST($queryPv[${j + 1}] AS DOUBLE) END)"
    }.mkString("\n      + ")

  private def foldExpr(d: Int, term: Int => String): String =
    (0 until d).map(term).mkString("\n      + ")

  /** DuckDB CTE reproducing the WHOLE pipeline from the literal rotation:
    * rotate (bit-identical float components via [[Opq.rotListExpr]]) →
    * per-vector Σ|·| / Σ(·)² / factor g → per-pair ± sum → 1e-6-rounded
    * estimator candidates → rounded-cosine rerank → `rbq_topk`. */
  def duckdbTopkCte(rotation: Array[Array[Float]], nQueries: Int = 100,
      rerank: Int = 100, k: Int = 10): String = {
    val d = rotation.length
    val sumAbs = foldExpr(d, j => s"abs(CAST(pv[${j + 1}] AS DOUBLE))")
    val sumSq = foldExpr(d,
      j => s"CAST(pv[${j + 1}] AS DOUBLE)*CAST(pv[${j + 1}] AS DOUBLE)")
    s"""WITH rbq_pv AS (
       |  SELECT vec_id, embedding,
       |   [${Opq.rotListExpr(rotation, "embedding")}] AS pv
       |  FROM embeddings),
       | rbq_enc AS (
       |  SELECT vec_id, embedding, pv,
       |   ($sumAbs) AS sumabs,
       |   ($sumSq) AS sumsq
       |  FROM rbq_pv),
       | rbq_g AS (
       |  SELECT vec_id, pv,
       |   CASE WHEN sumabs = 0 THEN 0.0 ELSE sqrt(sumsq)/sumabs END AS g
       |  FROM rbq_enc),
       | rbq_q AS (SELECT vec_id AS query_id, embedding AS qv, pv AS qpv
       |           FROM rbq_pv WHERE vec_id < $nQueries),
       | rbq_tr AS (SELECT q.query_id, e.vec_id AS cand_id,
       |    floor(((${signDotExpr(d, "e.pv", "q.qpv")}) * e.g)*1e6 + 0.5)/1e6
       |      AS tscore
       |   FROM rbq_g e, rbq_q q),
       | rbq_cand AS (SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY tscore DESC, cand_id) AS cr FROM rbq_tr) WHERE cr <= $rerank),
       | rbq_rer AS (SELECT c.query_id, c.cand_id AS neighbor_id,
       |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
       |   FROM rbq_cand c JOIN embeddings e ON e.vec_id = c.cand_id
       |    JOIN rbq_q q ON q.query_id = c.query_id),
       | rbq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM rbq_rer)
       |  WHERE rank <= $k)""".stripMargin
  }
}
