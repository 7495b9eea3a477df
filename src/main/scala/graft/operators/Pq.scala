package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-bound ANN scale path, additive
  * beyond the reference's HNSW/brute-force pair (its ANN surface is the
  * graph index, reference src/main.ts:253; the exact-rerank step here is
  * the same brute-force kernel as its oracle, src/bench/metrics.ts:9-24):
  * vectors
  * compress to `numSub` byte codes (for d=64, numSub=8 → 8 bytes/vector vs
  * 256 bytes raw, 32x), queries scan codes via asymmetric distance
  * computation (ADC, one table lookup + add per subspace), and a small
  * exact rerank restores precision.
  *
  * Spark shape: codebooks train on a seeded driver-side SAMPLE (standard
  * PQ practice — training cost is O(sample), never O(corpus)); encoding
  * is one mapPartitions over the corpus with broadcast codebooks; the
  * query scan emits only the per-partition top-`rerank` candidates per
  * query (the kernel's bounded heaps inside the partition, [[CodeScan]]
  * — the corpus-sized candidate set never materializes); the exact rerank
  * joins the original vectors of |queries|·rerank rows.
  *
  * Deterministic: sampling, codebook init, and Lloyd refinement are all
  * pure functions of (seed, id), so fits reproduce under any partitioning.
  */
object Pq {

  /** codebooks(sub)(code) = centroid of that subspace cell. `packed` means
    * `encoded.codes` is a binary column of 4-bit nibbles (two codes per
    * byte, codesPerSub ≤ 16) instead of array<smallint> — half the scan
    * bytes again on the largest corpora. */
  case class Model(numSub: Int, subDim: Int, codesPerSub: Int,
      codebooks: Array[Array[Array[Float]]], encoded: DataFrame,
      packed: Boolean = false)

  /** Pack 4-bit codes two-per-byte (code 2i in the high nibble). */
  private[operators] def packNibbles(codes: Array[Short]): Array[Byte] = {
    val out = new Array[Byte]((codes.length + 1) / 2)
    var i = 0
    while (i < codes.length) {
      val shift = (1 - (i & 1)) * 4
      out(i / 2) = (out(i / 2) | ((codes(i) & 0xf) << shift)).toByte
      i += 1
    }
    out
  }

  /** Nibble `s` of a packed code array. */
  @inline private[operators] def nibble(packed: Array[Byte], s: Int): Int =
    (packed(s / 2) >> ((1 - (s & 1)) * 4)) & 0xf

  private[operators] def sq(x: Float): Double = x.toDouble * x

  /** Per-subspace k-means over in-memory sample points (deterministic:
    * init = first k points in the caller's order, Lloyd with empty-cell
    * carry-over). Shared by PQ and OPQ training. */
  private[operators] def trainCodebooks(pts: Array[Array[Float]], numSub: Int,
      subDim: Int, codesPerSub: Int, iters: Int): Array[Array[Array[Float]]] =
    Array.tabulate(numSub) { s =>
      val sub = pts.map(v => v.slice(s * subDim, (s + 1) * subDim))
      var cents = sub.take(codesPerSub).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(codesPerSub)(new Array[Double](subDim))
        val counts = new Array[Int](codesPerSub)
        sub.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var dist = 0.0; var j = 0
            while (j < subDim) { dist += sq(p(j) - cents(c)(j)); j += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          var j = 0
          while (j < subDim) { sums(best)(j) += p(j); j += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(codesPerSub) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(subDim)(j => (sums(c)(j) / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }

  /** Nearest-centroid code per subspace. */
  private[operators] def encodeVec(cbs: Array[Array[Array[Float]]], v: Array[Float],
      numSub: Int, subDim: Int): Array[Short] = {
    val codes = new Array[Short](numSub)
    var s = 0
    while (s < numSub) {
      val cents = cbs(s)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var dist = 0.0; var j = 0
        while (j < subDim) { dist += sq(v(s * subDim + j) - cents(c)(j)); j += 1 }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      codes(s) = best.toShort
      s += 1
    }
    codes
  }

  /** Centroid reconstruction of a code word. */
  private[operators] def decodeVec(cbs: Array[Array[Array[Float]]], codes: Array[Short],
      numSub: Int, subDim: Int): Array[Float] = {
    val out = new Array[Float](numSub * subDim)
    var s = 0
    while (s < numSub) {
      val cent = cbs(s)(codes(s))
      var j = 0
      while (j < subDim) { out(s * subDim + j) = cent(j); j += 1 }
      s += 1
    }
    out
  }

  /** The auto subspace count: 8-dim subspaces (`numSub = d/8`) — the
    * regime-stable PQ shape. At d=64 this is the original default of 8;
    * at embedding widths it scales the code length with d instead of
    * silently widening each subspace (numSub=8 at d=768 means 96-dim
    * subspaces, whose 16-word codebooks cannot rank anything — the
    * high-dimension validation finding). */
  private[graft] def autoNumSub(d: Int): Int = {
    val ns = math.max(1, d / 8)
    if (d % ns == 0) ns
    // d not divisible by d/8 (non-multiple-of-8 dims): largest divisor ≤ d/8
    else (ns to 1 by -1).find(d % _ == 0).getOrElse(1)
  }

  /** Train codebooks on a seeded sample, then encode the corpus.
    * `numSub <= 0` (default) picks [[autoNumSub]] = d/8. */
  def fit(base: DataFrame, numSub: Int = 0, codesPerSub: Int = 16,
      sampleN: Int = 4000, iters: Int = 5, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      packed: Boolean = false): Model = {
    require(!packed || codesPerSub <= 16,
      s"packed nibble codes need codesPerSub <= 16, got $codesPerSub")
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val sample = src.withColumn("h", xxhash64(col("id"), lit(seed)))
      .orderBy("h").limit(sampleN)
      .select("id", "vec").as[(Long, Array[Float])].collect()
    require(sample.nonEmpty, "PQ training sample is empty")
    val d = sample.head._2.length
    val nSub = if (numSub > 0) numSub else autoNumSub(d)
    require(d % nSub == 0, s"dimension $d not divisible by numSub=$nSub")
    val subDim = d / nSub

    // per-subspace k-means: seeded init (first k sample rows by id-hash
    // order), then Lloyd iterations with empty-cell carry-over
    val codebooks = trainCodebooks(sample.map(_._2), nSub, subDim, codesPerSub, iters)

    val bc = spark.sparkContext.broadcast(codebooks)
    val encoded = (if (packed)
        src.as[(Long, Array[Float])].mapPartitions { rows =>
          val cbs = bc.value
          rows.map { case (id, v) =>
            (id, packNibbles(encodeVec(cbs, v, nSub, subDim))) }
        }.toDF("id", "codes")
      else
        src.as[(Long, Array[Float])].mapPartitions { rows =>
          val cbs = bc.value
          rows.map { case (id, v) => (id, encodeVec(cbs, v, nSub, subDim)) }
        }.toDF("id", "codes")).persist()
    encoded.count()
    Model(nSub, subDim, codesPerSub, codebooks, encoded, packed)
  }

  /** Persist code table + codebooks (O13 analog for the PQ family;
    * load-missing → None and recursive delete follow the reference's
    * store CRUD contract, reference src/db.ts:54-100). */
  def save(model: Model, path: String): Unit = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    model.encoded.write.mode("overwrite").parquet(s"$path/codes")
    val rows = for {
      s <- model.codebooks.indices
      c <- model.codebooks(s).indices
    } yield (s, c, model.codebooks(s)(c))
    rows.toDF("sub", "code", "cent").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  def load(spark: SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codebooks"))) return None
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/codebooks")
      .as[(Int, Int, Array[Float])].collect()
    val numSub = rows.map(_._1).max + 1
    val codesPerSub = rows.map(_._2).max + 1
    val codebooks = Array.ofDim[Array[Float]](numSub, codesPerSub)
    rows.foreach { case (s, c, cent) => codebooks(s)(c) = cent }
    val subDim = codebooks(0)(0).length
    val encoded = spark.read.parquet(s"$path/codes")
    val packed = encoded.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType
    Some(Model(numSub, subDim, codesPerSub, codebooks, encoded, packed))
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }

  /** ADC lookup table of one query in the code space: lut(s)(c) =
    * ||q_sub − cent||² (float diffs, squared in double). */
  private[operators] def adcLut(cbs: Array[Array[Array[Float]]], qv: Array[Float],
      numSub: Int, subDim: Int): Array[Array[Double]] =
    Array.tabulate(numSub) { s =>
      Array.tabulate(cbs(s).length) { c =>
        var dist = 0.0; var j = 0
        while (j < subDim) { dist += sq(qv(s * subDim + j) - cbs(s)(c)(j)); j += 1 }
        dist
      }
    }

  /** The ADC candidate stage of PQ, OPQ and IVF-PQ: (cell, id, codes) rows
    * of either code layout through the [[CodeScan]] kernel. The key is
    * Σ_s lut(s)(code_s), rounded to 1e-`adcDigits` when `adcDigits >= 0`
    * so a cross-engine oracle that sums the subspaces in another order
    * ranks the same (dist, cand_id) order. `lutOf` builds, once per
    * partition, the lookup of probe q's table in its probed cell slot. */
  private[operators] def adcTopCandidates(codes: DataFrame, packed: Boolean,
      flat: Boolean, probes: Array[CodeScan.Probe], numSub: Int, adcDigits: Int,
      lutOf: () => (Int, Int) => Array[Array[Double]]): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val scale = math.pow(10, adcDigits)
    def scan[C](ds: org.apache.spark.sql.Dataset[(Int, Long, C)]): DataFrame =
      CodeScan.topCandidates(ds, probes, (t: (Int, Long, C)) => t._2,
        if (flat) None else Some((t: (Int, Long, C)) => t._1),
        () => new CodeScan.Scorer[(Int, Long, C)] {
          private val lut = lutOf()
          def score(q: Int, slot: Int, rows: Array[(Int, Long, C)],
              from: Int, until: Int, out: Array[Double]): Unit = {
            val t = lut(q, slot)
            var j = from
            while (j < until) {
              var dist = 0.0
              var s = 0
              if (packed) {
                val c = rows(j)._3.asInstanceOf[Array[Byte]]
                while (s < numSub) { dist += t(s)(nibble(c, s)); s += 1 }
              } else {
                val c = rows(j)._3.asInstanceOf[Array[Short]]
                while (s < numSub) { dist += t(s)(c(s)); s += 1 }
              }
              out(j) = if (adcDigits >= 0) graft.Qutil.rnd(dist, scale) else dist
              j += 1
            }
          }
        })
    if (packed) scan(codes.as[(Int, Long, Array[Byte])])
    else scan(codes.as[(Int, Long, Array[Short])])
  }

  /** Flat ADC candidates: top-`rerank` (query_id, cand_id) pairs per query.
    * `probes` must already be in the model's code space (OPQ hands in
    * rotated queries). */
  private[operators] def adcCandidates(model: Model, probes: Array[(Long, Array[Float])],
      rerank: Int, adcDigits: Int = -1): DataFrame = {
    val spark = model.encoded.sparkSession
    val bcQ = spark.sparkContext.broadcast(probes.map(_._2))
    val bcCb = spark.sparkContext.broadcast(model.codebooks)
    val numSub = model.numSub
    val subDim = model.subDim
    adcTopCandidates(
      model.encoded.select(lit(0).as("cell"), col("id"), col("codes")),
      model.packed, flat = true,
      probes.map { case (qid, _) => CodeScan.Probe(qid, Array(0), rerank) },
      numSub, adcDigits, () => {
        val cbs = bcCb.value
        val qs = bcQ.value
        val luts = new Array[Array[Array[Double]]](qs.length)
        (q, _) => {
          if (luts(q) == null) luts(q) = adcLut(cbs, qs(q), numSub, subDim)
          luts(q)
        }
      })
  }

  /** ADC scan + exact rerank: approximate euclidean top-`rerank` per query
    * from the code table, then exact `1/(1+L2)` rerank on the original
    * vectors → top-k. */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1, adcDigits: Int = -1): DataFrame = {
    require(k > 0 && rerank >= k)
    val probes = CodeScan.collectProbes(queries, queryId, queryVec)
    val topCands = adcCandidates(model, probes, rerank, adcDigits)
    KnnJoin.rerank(topCands, base, queries, k, "euclidean", queryId, queryVec,
      idCol, vecCol, scoreDigits)
  }

  /** DuckDB CTE reproducing the WHOLE PQ pipeline from trained-codebook
    * literals (the LSH/SQ8/IVF cross-engine recipe extended to product
    * codes): encode every vector per subspace (the squared-distance
    * expression is emitted term-by-term LEFT-ASSOCIATIVE, so DuckDB
    * evaluates the identical IEEE double sequence as [[encodeVec]]'s
    * ascending-j loop and picks the identical argmin code, ties to the
    * lower code id), build per-query LUTs the same way, rank candidates by
    * the 1e-`adcDigits`-rounded (adc_dist, cand_id) total order, and
    * exact-rerank with 1e-6-rounded euclidean scores. Must be paired with
    * `knnJoin(..., scoreDigits = 6, adcDigits = adcDigits)` on the Spark
    * side. */
  /** VALUES rows for the codebook literal table `pq_cb(s, c, cent)` —
    * cent as REAL[] so element diffs run in float32 (see [[sqDistExpr]]). */
  private[operators] def cbValuesRows(codebooks: Array[Array[Array[Float]]]): String =
    (for {
      s <- codebooks.indices
      c <- codebooks(s).indices
    } yield {
      val lits = codebooks(s)(c).map(_.toDouble.toString).mkString(", ")
      s"($s, $c, CAST([$lits] AS REAL[]))"
    }).mkString(",\n   ")

  /** Left-associative sum of per-element squared diffs against the
    * `pq_cb`-aliased codebook row (1-based lists). The inner diff runs in
    * REAL: DuckDB float32 arithmetic is IEEE single-rounding,
    * bit-identical to [[encodeVec]]'s `Float - Float`; the square then
    * promotes to DOUBLE exactly like `sq(x)`. */
  private[operators] def sqDistExpr(subDim: Int, vec: String): String =
    (1 to subDim).map { j =>
      val x = s"CAST((CAST($vec[cb.s*$subDim + $j] AS REAL) - cb.cent[$j]) AS DOUBLE)"
      s"$x*$x"
    }.mkString("\n    + ")

  def duckdbTopkCte(codebooks: Array[Array[Array[Float]]], rerank: Int, k: Int,
      adcDigits: Int = 9, probeFilter: String = "vec_id < 100",
      srcCte: String = "", encFrom: String = "embeddings e",
      encVec: String = "e.embedding",
      qSelect: String = "", lutVec: String = "q.qv"): String = {
    val numSub = codebooks.length
    val subDim = codebooks(0)(0).length
    val cbRows = cbValuesRows(codebooks)
    def sqDist(vec: String): String = sqDistExpr(subDim, vec)
    val adcScale = "1e" + adcDigits
    val qSel = if (qSelect.nonEmpty) qSelect
      else s"SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE $probeFilter"
    s"""WITH $srcCte pq_cb(s, c, cent) AS (VALUES
       |   $cbRows),
       | pq_enc_dist AS (
       |  SELECT e.vec_id, cb.s, cb.c,
       |   ${sqDist(encVec)} AS dist
       |  FROM $encFrom CROSS JOIN pq_cb cb),
       | pq_enc AS (
       |  SELECT vec_id, s, c AS code FROM (
       |   SELECT vec_id, s, c,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
       |   FROM pq_enc_dist) WHERE rn = 1),
       | pq_q AS ($qSel),
       | pq_lut AS (
       |  SELECT q.query_id, cb.s, cb.c,
       |   ${sqDist(lutVec)} AS dist
       |  FROM pq_q q CROSS JOIN pq_cb cb),
       | pq_adc AS (
       |  SELECT l.query_id, en.vec_id AS cand_id,
       |   floor((sum(l.dist))*$adcScale + 0.5)/$adcScale AS adc_dist
       |  FROM pq_enc en JOIN pq_lut l ON l.s = en.s AND l.c = en.code
       |  GROUP BY 1, 2),
       | pq_cand AS (
       |  SELECT query_id, cand_id FROM (
       |   SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |     ORDER BY adc_dist, cand_id) AS cr FROM pq_adc) WHERE cr <= $rerank),
       | pq_rer AS (
       |  SELECT c.query_id, c.cand_id AS neighbor_id,
       |   floor((1.0/(1.0 + list_distance(CAST(e.embedding AS DOUBLE[]),
       |     CAST(q.qv AS DOUBLE[]))))*1e6 + 0.5)/1e6 AS score
       |  FROM pq_cand c JOIN embeddings e ON e.vec_id = c.cand_id
       |   JOIN pq_q q ON q.query_id = c.query_id),
       | pq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM pq_rer)
       |  WHERE rank <= $k)""".stripMargin
  }
}
