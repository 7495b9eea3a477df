package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.similarity

/** PCA-projected retrieval: learn the top-`p` principal components of the
  * embedding distribution on a bounded seeded sample, project the corpus
  * once (a single mapPartitions pass with the d×p weights broadcast — the
  * [[Opq]] corpus-rotate shape), then serve k-NN as cosine over the
  * p-dim projections with a bounded exact full-dim rerank.
  *
  * Versus [[Mrl]] (which needs matryoshka-TRAINED embeddings whose
  * prefixes are meaningful), PCA learns the informative subspace from the
  * data itself, so it applies to any embedding model — the classic
  * dimensionality-reduction serving path when no MRL checkpoint exists.
  *
  * Scale shape: training touches a `sampleN`-bounded sample (covariance
  * is d×d on the driver — microscopic for embedding dims); projection is
  * one corpus pass, no shuffle; the candidate stage streams the p-dim
  * projected table against broadcast probes (p/d of the float bytes, and
  * with the projected table persisted as its own parquet column layout
  * the scan reads only those bytes); the rerank reads full vectors for
  * `rerank` rows per query. Candidate order is (1e-6-rounded projected
  * cosine, cand_id), rerank uses the battery's rounded-cosine contract —
  * so the WHOLE trained pipeline is cross-engine oracle-checkable: the
  * mean + weights are emitted as DuckDB literals with the identical
  * left-associative IEEE double loop as [[project]] (the [[Opq]] recipe).
  *
  * Training math: eigendecomposition of the sample covariance (breeze
  * `eigSym`), components ordered by eigenvalue descending, each
  * sign-fixed so its largest-|weight| entry (first index on ties) is
  * positive — fully deterministic given the sample, and the sample is
  * xxhash64(id, seed)-ordered, so fit is partitioning-invariant.
  */
object Pca {

  /** `mean` and `weights` (d rows × p cols) are kept as doubles — they
    * are trained parameters emitted verbatim into oracle SQL; projection
    * truncates to float only at each output component, exactly like the
    * literal CAST(... AS REAL) form. `projected` is the (id, pv) corpus
    * table (persisted). */
  case class Model(mean: Array[Double], weights: Array[Array[Double]],
      eigenvalues: Array[Double], projected: DataFrame) {
    def d: Int = mean.length
    def p: Int = eigenvalues.length
  }

  /** Project one vector: out(j) = Σ_i (v(i) − mean(i))·w(i)(j), ascending
    * i (left-associative double adds), truncated to float per component —
    * the loop the DuckDB literal expression reproduces bit-for-bit. */
  private[operators] def project(mean: Array[Double],
      weights: Array[Array[Double]], v: Array[Float]): Array[Float] = {
    val d = mean.length
    val p = weights(0).length
    val out = new Array[Float](p)
    var j = 0
    while (j < p) {
      var s = 0.0
      var i = 0
      while (i < d) { s += (v(i) - mean(i)) * weights(i)(j); i += 1 }
      out(j) = s.toFloat
      j += 1
    }
    out
  }

  /** Train mean + top-`p` components on a seeded sample, then project the
    * corpus (one pass, weights broadcast, persisted). */
  def fit(base: DataFrame, p: Int, sampleN: Int = 4000, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val spark = base.sparkSession
    import spark.implicits._
    val src = base.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    // id tiebreak keeps the sample order total even on hash collisions —
    // the covariance accumulation is FP-order-sensitive, so fit
    // determinism needs a total order, not just a near-unique one
    val sample = src.withColumn("h", xxhash64(col("id"), lit(seed)))
      .orderBy(col("h"), col("id")).limit(sampleN)
      .select("vec").as[Array[Float]].collect()
    require(sample.nonEmpty, "PCA training sample is empty")
    val d = sample.head.length
    require(p > 0 && p <= d, s"need 0 < p <= d, got p=$p d=$d")
    val n = sample.length

    val mean = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
    var i = 0
    while (i < d) { mean(i) /= n; i += 1 }

    // covariance (population normalization — a positive scalar factor
    // doesn't move eigenvectors, so the choice is inert for retrieval)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    sample.foreach { v =>
      var a = 0
      while (a < d) {
        val da = v(a) - mean(a)
        var b = a
        while (b < d) { cov(a, b) += da * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) {
        cov(a, b) /= n; cov(b, a) = cov(a, b); b += 1
      }
      a += 1
    }

    val eig = breeze.linalg.eigSym(cov)
    // eigSym returns ascending eigenvalues; take the top p, descending
    val order = (0 until d).sortBy(ix => (-eig.eigenvalues(ix), ix)).take(p)
    val weights = Array.ofDim[Double](d, p)
    val eigenvalues = new Array[Double](p)
    order.zipWithIndex.foreach { case (ix, j) =>
      eigenvalues(j) = eig.eigenvalues(ix)
      // sign convention: largest-|weight| entry (first index on ties) > 0
      var best = 0
      var bi = 0
      while (bi < d) {
        if (math.abs(eig.eigenvectors(bi, ix)) > math.abs(eig.eigenvectors(best, ix)))
          best = bi
        bi += 1
      }
      val flip = if (eig.eigenvectors(best, ix) < 0) -1.0 else 1.0
      var r = 0
      while (r < d) { weights(r)(j) = eig.eigenvectors(r, ix) * flip; r += 1 }
    }

    val bcM = spark.sparkContext.broadcast(mean)
    val bcW = spark.sparkContext.broadcast(weights)
    val projected = src.as[(Long, Array[Float])].mapPartitions { rows =>
      val m = bcM.value; val w = bcW.value
      rows.map { case (id, v) => (id, project(m, w, v)) }
    }.toDF("id", "pv").persist()
    projected.count()
    Model(mean, weights, eigenvalues, projected)
  }

  /** Projected-cosine candidates + exact full-dim cosine top-k rerank
    * (the [[Mrl]] serving shape with the trained projection in place of
    * the prefix slice). Probes project on the driver — the bounded probe
    * set is the only collect; cap it with [[ProbeBatch.batched]]. */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreDigits: Int = -1, candDigits: Int = 6): DataFrame = {
    require(k > 0 && rerank >= k)
    val spark = model.projected.sparkSession
    import spark.implicits._
    val probes = queries
      .select(col(queryId).cast("long"), col(queryVec).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) => (qid, project(model.mean, model.weights, qv)) }
    val probeDf = probes.toSeq.toDF("query_id", "qpv")
    val tRaw = similarity.cosine_sim(col("pv"), col("qpv"))
    val tCol = if (candDigits >= 0) graft.Qutil.rnd(tRaw, candDigits) else tRaw
    val scored = model.projected.join(broadcast(probeDf))
      .select(col("query_id"), col("id").as("cand_id"), tCol.as("tscore"))
    KnnJoin.cosineCandidateRerank(scored, base, queries, k, rerank,
      queryId, queryVec, idCol, vecCol, scoreDigits)
  }

  /** Store CRUD (the battery's model-store contract): projected corpus
    * + trained params as parquet. */
  def save(model: Model, path: String): Unit = {
    val spark = model.projected.sparkSession
    import spark.implicits._
    model.projected.write.mode("overwrite").parquet(s"$path/projected")
    val d = model.d; val p = model.p
    val rows =
      (0 until d).map(i => ("mean", i, model.mean(i))) ++
      (for (i <- 0 until d; j <- 0 until p)
        yield ("w", i * p + j, model.weights(i)(j))) ++
      (0 until p).map(j => ("eig", j, model.eigenvalues(j))) ++
      Seq(("dim", 0, d.toDouble), ("p", 1, p.toDouble))
    rows.toDF("kind", "i", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load-missing → None (store contract). */
  def load(spark: SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/params"))) return None
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/params")
      .as[(String, Int, Double)].collect()
    val byKind = rows.groupBy(_._1)
    val dims = byKind("dim").head._3.toInt
    val p = byKind("p").head._3.toInt
    val mean = byKind("mean").sortBy(_._2).map(_._3)
    val flat = byKind("w").sortBy(_._2).map(_._3)
    val weights = Array.tabulate(dims, p)((i, j) => flat(i * p + j))
    val eig = byKind("eig").sortBy(_._2).map(_._3)
    Some(Model(mean, weights, eig, spark.read.parquet(s"$path/projected")))
  }

  def delete(spark: SparkSession, path: String): Unit = Pq.delete(spark, path)

  /** One explicit left-associative projection expression per output
    * component, each CAST to REAL — the identical IEEE double sequence
    * and float truncation as [[project]]'s ascending-i loop. `srcVec` is
    * the (1-based) float-list column being projected. */
  private[operators] def projListExpr(mean: Array[Double],
      weights: Array[Array[Double]], srcVec: String): String = {
    val d = mean.length
    val p = weights(0).length
    (0 until p).map { j =>
      val terms = (0 until d).map { i =>
        s"(CAST($srcVec[${i + 1}] AS DOUBLE) - (${mean(i)}))*(${weights(i)(j)})"
      }.mkString("\n      + ")
      s"CAST(($terms) AS REAL)"
    }.mkString(",\n    ")
  }

  /** DuckDB CTE reproducing the WHOLE trained pipeline from literal
    * mean + weights, ending in `pca_topk` (same contract as
    * [[Mrl.duckdbTopkCte]]; queries drawn from the corpus reuse the
    * projected CTE rows). */
  def duckdbTopkCte(mean: Array[Double], weights: Array[Array[Double]],
      nQueries: Int = 100, rerank: Int = 100, k: Int = 10): String =
    s"""WITH pca_pv AS (
       |  SELECT vec_id, embedding,
       |   [${projListExpr(mean, weights, "embedding")}] AS pv
       |  FROM embeddings),
       | pca_q AS (SELECT vec_id AS query_id, embedding AS qv, pv AS qpv
       |           FROM pca_pv WHERE vec_id < $nQueries),
       | pca_tr AS (SELECT q.query_id, e.vec_id AS cand_id,
       |    floor((list_cosine_similarity(CAST(e.pv AS DOUBLE[]),
       |      CAST(q.qpv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS tscore
       |   FROM pca_pv e, pca_q q),
       | pca_cand AS (SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY tscore DESC, cand_id) AS cr FROM pca_tr) WHERE cr <= $rerank),
       | pca_rer AS (SELECT c.query_id, c.cand_id AS neighbor_id,
       |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
       |   FROM pca_cand c JOIN embeddings e ON e.vec_id = c.cand_id
       |    JOIN pca_q q ON q.query_id = c.query_id),
       | pca_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM pca_rer)
       |  WHERE rank <= $k)""".stripMargin
}
