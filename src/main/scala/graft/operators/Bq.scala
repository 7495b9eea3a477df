package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary (sign) quantization: 1 bit per dimension packed into 64-bit
  * words — 32× smaller than float32 (100 TB of embeddings becomes ~3 TB
  * of codes). The candidate scan is XOR + popcount over packed words, the
  * cheapest distance kernel there is; exact cosine rerank on the original
  * vectors restores ranking fidelity over the top-`rerank` candidates
  * (additive beyond the reference's ANN surface like [[Sq]]/[[Pq]]; the
  * exact-rerank kernel matches the reference oracle contract, reference
  * src/bench/metrics.ts:9-24).
  *
  * The per-dimension threshold is the midrange `(min_i + max_i) / 2` —
  * like [[Sq]]'s affine params it is order-independent exact double
  * arithmetic over the data, which is what makes the WHOLE pipeline
  * cross-engine oracle-checkable: DuckDB recomputes identical bits from
  * the same min/max aggregates, and the candidate ranking key
  * `(hamming, cand_id)` is integer-valued — no rounding epsilon anywhere
  * before the shared rounded-cosine rerank.
  *
  * Scale shape: fit is two narrow no-shuffle passes (per-partition min/max
  * partials + one broadcast encode); search scans only the code table
  * (8 bytes/vector at d=64) with the kernel's ([[CodeScan]]) bounded
  * per-partition heaps, then a bounded candidate exchange (`rerank`
  * rows/query) and a broadcast-query rerank join. Nothing grows with
  * corpus size except the embarrassingly parallel code scan.
  */
object Bq {

  /** thresholds are per-dimension midrange cut points; encoded is the
    * persisted (id, bits array&lt;long&gt;) code table, ceil(d/64) words
    * per row, dimension j → word j/64 bit j%64. */
  case class Model(thresholds: Array[Double], encoded: DataFrame)

  private[graft] def packBits(v: Array[Float], thr: Array[Double]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) / 64)
    var j = 0
    while (j < v.length) {
      if (v(j).toDouble > thr(j)) words(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    words
  }

  private[operators] def hamming(a: Array[Long], b: Array[Long]): Int = {
    var h = 0
    var w = 0
    while (w < a.length) { h += java.lang.Long.bitCount(a(w) ^ b(w)); w += 1 }
    h
  }

  /** Per-dimension MIDRANGE thresholds `(min_i + max_i) / 2` from one
    * no-shuffle partials pass over (id, vec) rows — exact
    * order-independent double arithmetic (float in, double ops), so the
    * DuckDB oracle reproduces every bit from the same aggregates. Shared
    * by [[fit]] and [[IvfBq.fromIvf]]. */
  private[operators] def fitThresholds(src: DataFrame): Array[Double] = {
    val spark = src.sparkSession
    import spark.implicits._
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
    require(partials.nonEmpty, "BQ fit over an empty corpus")
    val d = partials.head._1.length
    val mins = partials.map(_._1).reduce { (a, b) =>
      Array.tabulate(d)(i => math.min(a(i), b(i))) }
    val maxs = partials.map(_._2).reduce { (a, b) =>
      Array.tabulate(d)(i => math.max(a(i), b(i))) }
    Array.tabulate(d)(i => (mins(i).toDouble + maxs(i).toDouble) / 2.0)
  }

  /** Midrange thresholds (partials pass, the [[Sq.fit]] shape), then one
    * broadcast encode pass. Deterministic. */
  def fit(base: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Model = {
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    val thr = fitThresholds(src)
    val bcT = spark.sparkContext.broadcast(thr)
    val encoded = src.as[(Long, Array[Float])].mapPartitions { rows =>
      val t = bcT.value
      rows.map { case (id, v) => (id, packBits(v, t)) }
    }.toDF("id", "bits").persist()
    encoded.count()
    Model(thr, encoded)
  }

  /** Persist codes + per-dim thresholds (store CRUD contract as
    * [[Pq.save]]; load-missing → None). */
  def save(model: Model, path: String): Unit = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    model.encoded.write.mode("overwrite").parquet(s"$path/codes")
    model.thresholds.zipWithIndex.map { case (t, i) => (i, t) }.toSeq
      .toDF("i", "thr").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  def load(spark: SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/params"))) return None
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/params")
      .as[(Int, Double)].collect().sortBy(_._1)
    Some(Model(rows.map(_._2), spark.read.parquet(s"$path/codes")))
  }

  def delete(spark: SparkSession, path: String): Unit = Pq.delete(spark, path)

  /** Hamming scan over the packed code table + exact cosine top-k rerank
    * on the original vectors. Candidate order is the integer total order
    * `(hamming, cand_id)` — identical on any engine by construction —
    * and `scoreDigits >= 0` rounds rerank scores before ranking (the
    * fixed-point floor form) for the cross-engine oracle gate. */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1): DataFrame = {
    require(k > 0 && rerank >= k)
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val probes = CodeScan.collectProbes(queries, queryId, queryVec)
    val bcQ = spark.sparkContext.broadcast(
      probes.map { case (_, qv) => packBits(qv, model.thresholds) })
    val topCands = CodeScan.topCandidates(model.encoded.as[(Long, Array[Long])],
      probes.map { case (qid, _) => CodeScan.Probe(qid, Array(0), rerank) },
      (t: (Long, Array[Long])) => t._1, None,
      () => new CodeScan.Scorer[(Long, Array[Long])] {
        private val qbits = bcQ.value
        def score(q: Int, slot: Int, rows: Array[(Long, Array[Long])],
            from: Int, until: Int, out: Array[Double]): Unit = {
          val qb = qbits(q)
          var j = from
          while (j < until) { out(j) = hamming(qb, rows(j)._2); j += 1 }
        }
      })
    KnnJoin.rerank(topCands, base, queries, k, "cosine", queryId, queryVec,
      idCol, vecCol, scoreDigits)
  }

  /** DuckDB CTE reproducing the whole pipeline from the same min/max
    * aggregates: midrange thresholds → per-dim bits → per-dim disagreement
    * count (≡ popcount(xor) over the packed words) → (hamming, cand_id)
    * top-`rerank` → rounded-cosine rerank → `bq_topk`. */
  def duckdbTopkCte(d: Int, nQueries: Int = 100, rerank: Int = 100,
      k: Int = 10): String =
    s"""WITH dims AS (SELECT CAST(unnest(range(1, ${d + 1})) AS INT) AS i),
       | comps AS (SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
       |           FROM embeddings e CROSS JOIN dims d),
       | stats AS (SELECT i, (min(x) + max(x))/2.0 AS thr
       |           FROM comps GROUP BY i),
       | bits AS (SELECT c.vec_id, c.i,
       |    CASE WHEN c.x > s.thr THEN 1 ELSE 0 END AS b
       |   FROM comps c JOIN stats s USING (i)),
       | q AS (SELECT vec_id AS query_id, embedding AS qv
       |       FROM embeddings WHERE vec_id < $nQueries),
       | qbits AS (SELECT vec_id AS query_id, i, b FROM bits
       |           WHERE vec_id < $nQueries),
       | ham AS (SELECT qb.query_id, b.vec_id AS cand_id,
       |    CAST(sum(CASE WHEN b.b <> qb.b THEN 1 ELSE 0 END) AS BIGINT) AS hd
       |   FROM bits b JOIN qbits qb USING (i) GROUP BY 1, 2),
       | cand AS (SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY hd, cand_id) AS cr FROM ham) WHERE cr <= $rerank),
       | rer AS (SELECT c.query_id, c.cand_id AS neighbor_id,
       |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
       |   FROM cand c JOIN embeddings e ON e.vec_id = c.cand_id
       |    JOIN q ON q.query_id = c.query_id),
       | bq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM rer)
       |  WHERE rank <= $k)""".stripMargin
}
