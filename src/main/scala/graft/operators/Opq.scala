package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimized Product Quantization (OPQ): learn an orthogonal rotation R
  * that minimizes PQ reconstruction error, then product-quantize in the
  * rotated space (additive beyond the reference's ANN surface, like
  * [[Pq]]; the exact-rerank kernel matches the reference oracle,
  * reference src/bench/metrics.ts:9-24).
  *
  * Training alternates (the standard OPQ-NP loop):
  *   1. codebooks ← per-subspace k-means on the rotated sample X·R
  *   2. R ← argmin ‖X·R − Y‖_F over orthogonal R (orthogonal Procrustes:
  *      R = U·Vᵀ from SVD(XᵀY), Y = PQ reconstruction of X·R)
  * Both steps run driver-side on the same seeded O(sample) subset PQ
  * training uses; the corpus-sized work (rotate + encode) is one
  * mapPartitions with the rotation broadcast, and queries rotate on the
  * fly — search cost is identical to plain PQ, only code quality changes.
  * Rotation preserves euclidean distances, so the ADC scan and the exact
  * rerank semantics carry over unchanged.
  */
object Opq {

  /** rotation is row-major d×d; pq holds codebooks + encoded corpus in the
    * ROTATED space. */
  case class Model(rotation: Array[Array[Float]], pq: Pq.Model)

  private[graft] def rotate(r: Array[Array[Float]], v: Array[Float]): Array[Float] = {
    val d = v.length
    // i-outer / j-inner: each out(j) still accumulates its terms in
    // ascending-i order (bit-identical doubles to the j-outer form), but
    // the inner loop now walks ONE contiguous row r(i) instead of
    // striding across d separate arrays — at d=768 the strided form was
    // a cache miss per multiply and bounded streaming-ingest encode at
    // ~1.7k rows/s (BASELINE round 10)
    val acc = new Array[Double](d)
    var i = 0
    while (i < d) {
      val vi = v(i).toDouble
      val ri = r(i)
      var j = 0
      while (j < d) { acc(j) += vi * ri(j); j += 1 }
      i += 1
    }
    val out = new Array[Float](d)
    var j = 0
    while (j < d) { out(j) = acc(j).toFloat; j += 1 }
    out
  }

  /** The ingest-side rotation kernel, round 2 (VERDICT r10 #8): the
    * loop-interchanged [[rotate]] still pays a float→double widening of
    * the rotation element on EVERY multiply (d² conversions per row)
    * and streams the whole d×d matrix from memory once per row. This
    * path removes both, bit-identically:
    *
    *  - the rotation is widened to double rows ONCE per partition
    *    (float→double is exact, so every product is the identical
    *    double [[rotate]] computes);
    *  - rows are processed in blocks of 4 sharing each matrix-row pass
    *    (4× arithmetic intensity against the same memory traffic);
    *    each output j still accumulates its terms in ascending-i
    *    order, so the double sums — and the sign bits and factors
    *    derived from them — are bit-identical to the scalar kernel
    *    (spec-pinned element-exact on random data).
    */
  private[graft] def widen(r: Array[Array[Float]]): Array[Array[Double]] =
    r.map { row =>
      val o = new Array[Double](row.length)
      var j = 0
      while (j < row.length) { o(j) = row(j).toDouble; j += 1 }
      o
    }

  private def toF(a: Array[Double]): Array[Float] = {
    val out = new Array[Float](a.length)
    var j = 0
    while (j < a.length) { out(j) = a(j).toFloat; j += 1 }
    out
  }

  private[graft] def rotateWide(rd: Array[Array[Double]],
      v: Array[Float]): Array[Float] = {
    val d = v.length
    val acc = new Array[Double](d)
    var i = 0
    while (i < d) {
      val vi = v(i).toDouble
      val ri = rd(i)
      var j = 0
      while (j < d) { acc(j) += vi * ri(j); j += 1 }
      i += 1
    }
    toF(acc)
  }

  /** Rotate up to 4 vectors sharing one pass over the widened matrix. */
  private[graft] def rotateBlock4(rd: Array[Array[Double]],
      vs: Array[Array[Float]]): Array[Array[Float]] = {
    if (vs.length != 4) return vs.map(rotateWide(rd, _))
    val d = rd.length
    val v0 = vs(0); val v1 = vs(1); val v2 = vs(2); val v3 = vs(3)
    val a0 = new Array[Double](d); val a1 = new Array[Double](d)
    val a2 = new Array[Double](d); val a3 = new Array[Double](d)
    var i = 0
    while (i < d) {
      val ri = rd(i)
      val x0 = v0(i).toDouble; val x1 = v1(i).toDouble
      val x2 = v2(i).toDouble; val x3 = v3(i).toDouble
      var j = 0
      while (j < d) {
        val rij = ri(j)
        a0(j) += x0 * rij; a1(j) += x1 * rij
        a2(j) += x2 * rij; a3(j) += x3 * rij
        j += 1
      }
      i += 1
    }
    Array(toF(a0), toF(a1), toF(a2), toF(a3))
  }

  /** Iterator adapter for the ingest mapPartitions sites: widen once,
    * rotate in 4-row blocks, hand each row back with its rotated
    * vector. Output order is the input order. */
  private[graft] def rotatedRows[T](r: Array[Array[Float]],
      rows: Iterator[T], vecOf: T => Array[Float]): Iterator[(T, Array[Float])] = {
    val rd = widen(r)
    rows.grouped(4).flatMap { blk =>
      val out = rotateBlock4(rd, blk.map(vecOf).toArray)
      blk.iterator.zip(out.iterator)
    }
  }

  /** Mean squared reconstruction error of codebooks over (already rotated)
    * points — the OPQ objective, exposed for tests. */
  private[graft] def mse(pts: Array[Array[Float]],
      cbs: Array[Array[Array[Float]]], numSub: Int, subDim: Int): Double = {
    var total = 0.0
    pts.foreach { p =>
      val rec = Pq.decodeVec(cbs, Pq.encodeVec(cbs, p, numSub, subDim), numSub, subDim)
      var j = 0
      while (j < p.length) { total += Pq.sq(p(j) - rec(j)); j += 1 }
    }
    total / math.max(pts.length, 1)
  }

  /** The OPQ-NP alternation on an in-memory sample: k-means in the
    * rotated space, then orthogonal Procrustes (R = U·Vᵀ of SVD(XᵀY),
    * Y = PQ reconstructions). Shared by OPQ and rotated IVF-PQ (which
    * hands in residuals). Returns (rotation, codebooks-in-rotated-space). */
  private[operators] def trainRotation(sample: Array[Array[Float]], numSub: Int,
      subDim: Int, codesPerSub: Int, pqIters: Int, opqIters: Int)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val d = numSub * subDim
    var r: Array[Array[Float]] = Array.tabulate(d, d)((i, j) => if (i == j) 1f else 0f)
    var cbs: Array[Array[Array[Float]]] = null
    var it = 0
    while (it < opqIters) {
      val rotated = sample.map(rotate(r, _))
      cbs = Pq.trainCodebooks(rotated, numSub, subDim, codesPerSub, pqIters)
      val m = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var n = 0
      while (n < sample.length) {
        val x = sample(n)
        val y = Pq.decodeVec(cbs, Pq.encodeVec(cbs, rotated(n), numSub, subDim),
          numSub, subDim)
        var i = 0
        while (i < d) {
          val xi = x(i).toDouble
          var j = 0
          while (j < d) { m(i, j) += xi * y(j); j += 1 }
          i += 1
        }
        n += 1
      }
      val svd = breeze.linalg.svd(m)
      val ruv = svd.U * svd.Vt
      r = Array.tabulate(d, d)((i, j) => ruv(i, j).toFloat)
      it += 1
    }
    (r, cbs)
  }

  /** Train rotation + codebooks on a seeded sample, then rotate + encode
    * the corpus. Deterministic for fixed (seed, data). `numSub <= 0`
    * (default) picks [[Pq.autoNumSub]] = d/8. */
  def fit(base: DataFrame, numSub: Int = 0, codesPerSub: Int = 16,
      sampleN: Int = 4000, pqIters: Int = 5, opqIters: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val sample = src.withColumn("h", xxhash64(col("id"), lit(seed)))
      .orderBy("h").limit(sampleN)
      .select("id", "vec").as[(Long, Array[Float])].collect().map(_._2)
    require(sample.nonEmpty, "OPQ training sample is empty")
    val d = sample.head.length
    val nSub = if (numSub > 0) numSub else Pq.autoNumSub(d)
    require(d % nSub == 0, s"dimension $d not divisible by numSub=$nSub")
    val subDim = d / nSub
    val (r, cbs) = trainRotation(sample, nSub, subDim, codesPerSub,
      pqIters, opqIters)

    // rotate + encode the corpus (one pass, rotation + codebooks broadcast)
    val bcR = spark.sparkContext.broadcast(r)
    val bcC = spark.sparkContext.broadcast(cbs)
    val encoded = src.as[(Long, Array[Float])].mapPartitions { rows =>
      val rr = bcR.value; val cc = bcC.value
      rows.map { case (id, v) =>
        (id, Pq.encodeVec(cc, rotate(rr, v), nSub, subDim))
      }
    }.toDF("id", "codes").persist()
    encoded.count()
    Model(r, Pq.Model(nSub, subDim, codesPerSub, cbs, encoded))
  }

  /** Persist rotation + the underlying PQ model (store CRUD contract as
    * [[Pq.save]]; load-missing → None). */
  def save(model: Model, path: String): Unit = {
    val spark = model.pq.encoded.sparkSession
    import spark.implicits._
    Pq.save(model.pq, s"$path/pq")
    model.rotation.zipWithIndex.map { case (row, i) => (i, row) }.toSeq
      .toDF("i", "row").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/rotation"))) return None
    import spark.implicits._
    val rot = spark.read.parquet(s"$path/rotation")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    Pq.load(spark, s"$path/pq").map(Model(rot, _))
  }

  def delete(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Pq.delete(spark, path)

  /** ADC scan in the rotated space + exact rerank on the ORIGINAL vectors
    * (rotation is an isometry, so rotated ADC distances estimate the same
    * euclidean geometry; the rerank never touches the rotation). */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1, adcDigits: Int = -1): DataFrame = {
    require(k > 0 && rerank >= k)
    val rr = model.rotation
    val probes = CodeScan.collectProbes(queries, queryId, queryVec)
      .map { case (qid, qv) => (qid, rotate(rr, qv)) }
    val topCands = Pq.adcCandidates(model.pq, probes, rerank, adcDigits)
    KnnJoin.rerank(topCands, base, queries, k, "euclidean", queryId, queryVec,
      idCol, vecCol, scoreDigits)
  }

  /** DuckDB CTE reproducing the WHOLE OPQ pipeline from trained literals:
    * the rotation is emitted as one explicit LEFT-ASSOCIATIVE dot-product
    * expression per output dimension, each CAST to REAL — the identical
    * IEEE double sequence and float truncation as [[rotate]]'s ascending-i
    * loop — so DuckDB reproduces the rotated corpus bit-for-bit, then the
    * shared PQ pipeline (encode → LUT → rounded-ADC rank → exact rerank on
    * the ORIGINAL vectors) runs in the rotated space exactly like
    * [[knnJoin]]. Pair with `knnJoin(..., scoreDigits = 6, adcDigits =
    * adcDigits)`. */
  /** One explicit LEFT-ASSOCIATIVE dot-product expression per output
    * dimension, each CAST to REAL — the identical IEEE double sequence and
    * float truncation as [[rotate]]'s ascending-i loop, so DuckDB
    * reproduces rotated vectors bit-for-bit from the literal weights.
    * `srcVec` is the (1-based) float-list column being rotated. */
  private[operators] def rotListExpr(rotation: Array[Array[Float]],
      srcVec: String): String = {
    val d = rotation.length
    (0 until d).map { j =>
      val terms = (0 until d).map { i =>
        s"CAST($srcVec[${i + 1}] AS DOUBLE)*${rotation(i)(j).toDouble.toString}"
      }.mkString("\n      + ")
      s"CAST(($terms) AS REAL)"
    }.mkString(",\n    ")
  }

  def duckdbTopkCte(rotation: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], rerank: Int, k: Int,
      adcDigits: Int = 9, probeFilter: String = "vec_id < 100"): String = {
    val srcCte =
      s"""opq_rv AS (
         |  SELECT vec_id, embedding,
         |   [${rotListExpr(rotation, "embedding")}] AS rv
         |  FROM embeddings),
         |""".stripMargin
    Pq.duckdbTopkCte(codebooks, rerank, k, adcDigits, probeFilter,
      srcCte = srcCte, encFrom = "opq_rv e", encVec = "e.rv",
      qSelect = s"SELECT vec_id AS query_id, embedding AS qv, rv AS qrv " +
        s"FROM opq_rv WHERE $probeFilter",
      lutVec = "q.qrv")
  }
}
