package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8): per-dimension affine int8 codes —
  * `code_i = round((v_i − min_i) / scale_i)` clamped to [0, 255], stored
  * as one `binary` column (1 byte/dim, 4× smaller than float32; additive
  * beyond the reference's ANN surface like [[Pq]], with the exact-rerank
  * kernel matching the reference oracle, reference src/bench/metrics.ts:9-24).
  *
  * Fit is two narrow passes with no shuffle: per-partition (min, max)
  * partials reduced on the driver (P tiny rows), then a broadcast encode
  * pass. Search is an ADC scan — per-query lookup table lut(i)(c) =
  * (q_i − decode(c))² so each candidate costs d table adds — through the
  * kernel ([[CodeScan]]: bounded per-partition heaps, a global per-query
  * top-`rerank` cut), and exact `1/(1+L2)` rerank on the original
  * vectors (shared with PQ/OPQ). At
  * scale the code table is the only thing scanned: 100 TB of float32
  * becomes 25 TB of codes, and the scan parallelizes per partition with
  * zero shuffles before the bounded candidate exchange.
  */
object Sq {

  /** mins/scales are per-dimension affine decode params; encoded is the
    * persisted (id, codes binary) table. Scales are DOUBLE and the whole
    * encode/decode/ADC pipeline is closed-form double arithmetic over the
    * data — which is what makes the SQ path cross-engine ORACLE-checkable
    * (the DuckDB oracle recomputes identical codes from the same per-dim
    * min/max aggregates; see the knn_sq_euclid oracle SQL). */
  case class Model(mins: Array[Float], scales: Array[Double], encoded: DataFrame)

  private def decode(m: Model, i: Int, c: Int): Double =
    m.mins(i).toDouble + c * m.scales(i)

  /** Per-dimension min/max over the corpus (partition partials + driver
    * combine), then one broadcast encode pass. Deterministic. */
  def fit(base: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Model = {
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val partials = src.as[(Long, Array[Float])].mapPartitions { it =>
      var mins: Array[Float] = null
      var maxs: Array[Float] = null
      it.foreach { case (_, v) =>
        if (mins == null) { mins = v.clone(); maxs = v.clone() }
        else {
          var i = 0
          while (i < v.length) {
            if (v(i) < mins(i)) mins(i) = v(i)
            if (v(i) > maxs(i)) maxs(i) = v(i)
            i += 1
          }
        }
      }
      if (mins == null) Iterator.empty else Iterator((mins, maxs))
    }.collect()
    require(partials.nonEmpty, "SQ fit over an empty corpus")
    val d = partials.head._1.length
    val mins = partials.map(_._1).reduce { (a, b) =>
      Array.tabulate(d)(i => math.min(a(i), b(i))) }
    val maxs = partials.map(_._2).reduce { (a, b) =>
      Array.tabulate(d)(i => math.max(a(i), b(i))) }
    // constant dimensions get scale 0 → all-zero codes decoding to min_i;
    // double arithmetic throughout (float in, double ops) so the DuckDB
    // oracle reproduces codes exactly from the same aggregates
    val scales = Array.tabulate(d)(i => (maxs(i).toDouble - mins(i).toDouble) / 255.0)

    val bcM = spark.sparkContext.broadcast(mins)
    val bcS = spark.sparkContext.broadcast(scales)
    val encoded = src.as[(Long, Array[Float])].mapPartitions { rows =>
      val mn = bcM.value; val sc = bcS.value
      rows.map { case (id, v) =>
        val codes = new Array[Byte](v.length)
        var i = 0
        while (i < v.length) {
          val c = if (sc(i) == 0.0) 0
            else math.max(0, math.min(255,
              math.floor((v(i).toDouble - mn(i).toDouble) / sc(i) + 0.5).toInt))
          codes(i) = c.toByte
          i += 1
        }
        (id, codes)
      }
    }.toDF("id", "codes").persist()
    encoded.count()
    Model(mins, scales, encoded)
  }

  /** Persist codes + per-dim affine params (store CRUD contract as
    * [[Pq.save]]; load-missing → None). */
  def save(model: Model, path: String): Unit = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    model.encoded.write.mode("overwrite").parquet(s"$path/codes")
    model.mins.zip(model.scales).zipWithIndex
      .map { case ((mn, sc), i) => (i, mn, sc) }.toSeq
      .toDF("i", "min", "scale").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/params"))) return None
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/params")
      .as[(Int, Float, Double)].collect().sortBy(_._1)
    Some(Model(rows.map(_._2), rows.map(_._3),
      spark.read.parquet(s"$path/codes")))
  }

  def delete(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Pq.delete(spark, path)

  /** ADC scan over the code table + exact top-k rerank on the original
    * vectors (euclidean `1/(1+L2)` contract). `scoreDigits >= 0` rounds
    * rerank scores before ranking (fixed-point floor form) — required for
    * the cross-engine oracle gate. */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1): DataFrame = {
    require(k > 0 && rerank >= k)
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val probes = CodeScan.collectProbes(queries, queryId, queryVec)
    val bcQ = spark.sparkContext.broadcast(probes.map(_._2))
    val bcM = spark.sparkContext.broadcast(model)
    val topCands = CodeScan.topCandidates(model.encoded.as[(Long, Array[Byte])],
      probes.map { case (qid, _) => CodeScan.Probe(qid, Array(0), rerank) },
      (t: (Long, Array[Byte])) => t._1, None,
      () => new CodeScan.Scorer[(Long, Array[Byte])] {
        private val m = bcM.value
        private val qs = bcQ.value
        private val d = m.mins.length
        // per-query LUT, built on first use: lut(i*256 + c) = (q_i − decode(i, c))²
        private val luts = new Array[Array[Double]](qs.length)
        private def lut(q: Int): Array[Double] = {
          if (luts(q) == null) {
            val qv = qs(q)
            val t = new Array[Double](d * 256)
            var i = 0
            while (i < d) {
              var c = 0
              while (c < 256) {
                val diff = qv(i).toDouble - decode(m, i, c)
                t(i * 256 + c) = diff * diff
                c += 1
              }
              i += 1
            }
            luts(q) = t
          }
          luts(q)
        }
        def score(q: Int, slot: Int, rows: Array[(Long, Array[Byte])],
            from: Int, until: Int, out: Array[Double]): Unit = {
          val t = lut(q)
          var j = from
          while (j < until) {
            val codes = rows(j)._2
            var dist = 0.0
            var i = 0
            while (i < d) { dist += t(i * 256 + (codes(i) & 0xff)); i += 1 }
            // rounded BEFORE ranking, so both engines rank the same
            // (dist, cand_id) order whatever their summation order
            out(j) = graft.Qutil.rnd(dist, 1e9)
            j += 1
          }
        }
      })
    KnnJoin.rerank(topCands, base, queries, k, "euclidean", queryId, queryVec,
      idCol, vecCol, scoreDigits)
  }
}
