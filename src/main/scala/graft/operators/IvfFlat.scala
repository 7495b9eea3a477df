package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.similarity

/** IVF-Flat approximate k-NN: coarse-quantize the corpus into C cells
  * (seeded sample centroids + one Lloyd refinement, all DataFrame ops),
  * then at query time search only the `nprobe` nearest cells.
  *
  * Scale shape: train = 2 scans + tiny broadcasts; the inverted index is
  * the base table hash-partitioned by cell id; a query touches
  * nprobe/C of the data. Everything stays in whole-stage codegen
  * (centroid scoring uses the native cosine expression against literal
  * vectors); no driver loops over data — only over the C centroids,
  * which are small by construction.
  */
object IvfFlat {

  case class Model(centroids: Array[(Int, Array[Float])], assigned: DataFrame) {
    /** Drop the persisted assignment cache. [[fit]] persists `assigned`
      * (every consumer action would otherwise re-pay the O(n·C·d)
      * assignment scan); callers that fit REPEATEDLY in one session —
      * specs, sweep mains — must release each model or the cache entries
      * accumulate unreachably. Memoized holders (the battery's ivfModel)
      * keep theirs for the session, like the other model tables. */
    def release(): Unit = { assigned.unpersist(); () }
  }

  /** Deterministic training: initial centroids = the C vectors with the
    * smallest mixed hash of their id, refined by one Lloyd iteration over
    * a SEEDED SAMPLE (standard IVF practice — training cost is
    * O(sample·C), never O(corpus·C); the corpus pays exactly ONE
    * assignment scan, the one that builds the inverted index). At any
    * corpus ≤ `lloydSampleN` the sample is the corpus, so small-scale
    * results are unchanged.
    * @param metric cell-assignment geometry ("cosine" | "euclidean") —
    *               MUST match the query-time probe metric, or true
    *               neighbors land in never-probed cells (IvfPq assigns
    *               and probes euclidean; the cosine path is the default
    *               knn_ivf surface)
    * @param initCentroids WARM START: seed Lloyd from these centroids
    *               (an earlier fit of the same space) instead of the
    *               hash-min vectors. The one refinement step still runs
    *               against the new corpus's sample, so centroids track
    *               drift while keeping their IDENTITY — cell i stays
    *               "the same cell", which is what keeps cell ids stable
    *               across refit compactions. Must carry exactly
    *               `numCells` centroids. */
  def fit(base: DataFrame, numCells: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metric: String = "cosine", lloydSampleN: Int = 100000,
      balanceSlack: Double = 0.0,
      initCentroids: Option[Array[(Int, Array[Float])]] = None): Model = {
    require(lloydSampleN >= numCells, "Lloyd sample smaller than cell count")
    require(balanceSlack == 0.0 || numCells >= 2,
      "balanced assignment needs a second-nearest cell to spill to")
    initCentroids.foreach(c => require(c.length == numCells,
      s"warm start carries ${c.length} centroids for numCells=$numCells"))
    val spark = base.sparkSession
    import spark.implicits._
    val hashed = base.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .withColumn("h", xxhash64(col("id"), lit(seed)))
    val sample = hashed.orderBy("h").limit(lloydSampleN).persist()
    val init = initCentroids match {
      case Some(c) => c.sortBy(_._1).zipWithIndex
        .map { case ((_, v), i) => (i, v) }
      case None => sample.orderBy("h").limit(numCells)
        .select("id", "vec").as[(Long, Array[Float])].collect()
        .zipWithIndex.map { case ((_, v), i) => (i, v) }
    }
    val afterAssign = assign(sample.select("id", "vec"), init, metric)
    // one Lloyd step over the sample: element-wise mean per cell
    val refined = afterAssign
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("cell", "pos").agg(avg("x").as("mx"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("ps"))
      .select(col("cell"), expr("transform(ps, p -> cast(p.mx as float))").as("cvec"))
      .as[(Int, Array[Float])].collect()
      .sortBy(_._1)
    val finalCentroids =
      if (refined.length == numCells) refined
      else initCentroids match {
        // warm start: a cell the new sample never hits KEEPS its frozen
        // centroid (identity preserved) instead of discarding the whole
        // refinement; the cold path's all-or-nothing fallback is
        // unchanged (existing fits stay bit-identical)
        case Some(_) =>
          val m = refined.toMap
          Array.tabulate(numCells)(i => (i, m.getOrElse(i, init(i)._2)))
        case None => init
      }
    sample.unpersist()
    val src = hashed.select("id", "vec")
    val assigned =
      if (balanceSlack <= 0.0) assign(src, finalCentroids, metric)
      else {
        val cap = math.ceil(
          base.count().toDouble / numCells * (1.0 + balanceSlack)).toLong
        assignBalanced(src, finalCentroids, metric, cap)
      }
    // persist: the assignment is O(n·C·d) — at 10M/C=1024 a single
    // recompute costs ~200 s, and every consumer action (knn, SemDeDup,
    // pruning, cluster eval) would otherwise re-pay it. Lazy persist:
    // the first consumer materializes, the rest hit cache (the
    // Pq/Bq encoded-table contract).
    Model(finalCentroids, assigned.repartition(col("cell")).persist())
  }

  /** argmax-similarity cell assignment against the centroid matrix.
    * Arithmetic + ties are the proven literal-expression semantics
    * (greatest(struct): NaN→-1.0, equal scores pick the LARGER cell),
    * executed by [[graft.functions.CellScorer]] — a single reference-
    * object expression, so codegen cost is O(1) in C instead of the
    * O(C·d) generated source that cost ~100 s of Janino/JIT per plan at
    * C=128 (BASELINE.md round 8, "SemDeDup at 1M vectors"). */
  private[graft] def assign(df: DataFrame, centroids: Array[(Int, Array[Float])],
      metric: String = "cosine"): DataFrame =
    df.withColumn("cell", element_at(
      graft.functions.cells.nearest_cells(col("vec"), centroids, metric,
        n = 1, tieCellDesc = true), 1))

  /** Size-capped balanced assignment: each row's nearest cell keeps its
    * `cap` BEST-FITTING rows (similarity-desc, id tie-break — a
    * deterministic total order); overflow spills to the row's
    * second-nearest cell. One spill round bounds the hottest cell at
    * ~cap + its own spill-in, which caps the slowest per-cell index
    * builder and the hottest probe shard on skewed corpora. Cost: one
    * window shuffle on the primary cell — the same exchange the inverted
    * index needs anyway. Trade-off documented at the call site: spilled
    * rows live in their second-best cell, so recall at fixed nprobe dips
    * slightly vs greedy assignment. */
  private def assignBalanced(df: DataFrame, centroids: Array[(Int, Array[Float])],
      metric: String, cap: Long): DataFrame = {
    // top-2 cells via the reference-object scorer (same (s desc, c desc)
    // order the literal reverse(array_sort) form produced); s1 recomputed
    // against a SINGLE matrix literal — one expression, not C of them
    val matrix = centroids.sortBy(_._1).map(_._2)
    require(centroids.map(_._1).sorted.sameElements(centroids.indices),
      "balanced assignment expects dense 0..C-1 cell ids")
    val w = Window.partitionBy("cell1").orderBy(col("s1").desc, col("id"))
    df.withColumn("top2",
        graft.functions.cells.nearest_cells(col("vec"), centroids, metric,
          n = 2, tieCellDesc = true))
      .withColumn("cell1", col("top2")(0))
      .withColumn("cell2", col("top2")(1))
      .withColumn("s1", nanvl(similarity.sim(metric)(col("vec"),
        element_at(typedlit(matrix), col("cell1") + 1)), lit(-1.0)))
      .withColumn("rn", row_number().over(w))
      .withColumn("cell",
        when(col("rn") <= cap, col("cell1")).otherwise(col("cell2")))
      .drop("top2", "cell1", "s1", "cell2", "rn")
  }

  /** O13/O15-style persistence for the IVF path: inverted index as
    * cell-partitioned parquet (so a probe reads only its cells' files at
    * load-scale), centroids as a tiny parquet. Load of a missing path is
    * None (reference src/db.ts:72-74 no-op semantics); delete drops the
    * directory. */
  def save(model: Model, path: String): Unit = {
    val spark = model.assigned.sparkSession
    import spark.implicits._
    model.assigned.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/ivf")
    model.centroids.toSeq.toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  def load(spark: SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids"))) return None
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    val assigned = spark.read.parquet(s"$path/ivf")
      .select(col("id"), col("vec"), col("cell").cast("int").as("cell"))
    Some(Model(centroids, assigned))
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }

  /** Query: probe the nprobe nearest cells, exact rerank inside them.
    * `scoreDigits >= 0` rounds rerank scores before ranking (fixed-point
    * floor form) — required for the cross-engine oracle gate. */
  def knnJoin(model: Model, queries: DataFrame, k: Int, nprobe: Int = 4,
      queryId: String = "query_id", queryVec: String = "query_vec",
      scoreDigits: Int = -1): DataFrame = {
    require(k > 0 && nprobe > 0)
    // same NaN guard + (s desc, c desc) order as the literal
    // reverse(array_sort) form, via the O(1)-codegen scorer expression
    val probes = queries
      .select(col(queryId), col(queryVec).as("qvec"))
      .withColumn("cells",
        graft.functions.cells.nearest_cells(col("qvec"), model.centroids,
          "cosine", n = nprobe, tieCellDesc = true))
      .select(col(queryId), col("qvec"), explode(col("cells")).as("cell"))
    val raw = nanvl(similarity.cosine_sim(col("vec"), col("qvec")), lit(-1.0))
    val scoreExpr = if (scoreDigits >= 0) graft.Qutil.rnd(raw, scoreDigits) else raw
    val cands = model.assigned.join(probes, Seq("cell"))
      .select(col(queryId), col("id").as("neighbor_id"), scoreExpr.as("score"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB CTE reproducing the WHOLE IVF pipeline from trained-centroid
    * literals — the LSH/SQ8 recipe applied to the coarse quantizer. The
    * centroids are data-dependent (sample + Lloyd step), so this SQL can
    * only be emitted AFTER a fit; both engines then share the exact same
    * quantizer and the full approximate path hash-matches:
    * assignment = argmax cosine (NaN→-1.0, (s DESC, cell DESC) — the
    * greatest(struct) tie order), probe = top-nprobe cells by the same
    * order (reverse(array_sort) semantics), rerank = cosine rounded 1e-6
    * with neighbor-id tie-break. Ends with CTE `ivf_topk`. */
  /** NaN-guarded DuckDB cosine (NaN → -1.0) — the literal twin of the
    * engine's `nanvl(cosine_sim(...), -1.0)` assignment scoring. */
  private[operators] def duckdbGuardedCosine(a: String, b: String): String =
    s"""CASE WHEN isnan(list_cosine_similarity($a, $b)) THEN -1.0
       |        ELSE list_cosine_similarity($a, $b) END""".stripMargin

  /** Shared oracle fragment for every trained-centroid consumer
    * (SemDeDup / prototype pruning / cluster eval): centroid VALUES +
    * guarded-cosine scoring + argmax assignment with the load-bearing
    * `(s DESC, cell DESC)` tie order, emitted once so the assignment
    * contract cannot drift between oracles. Produces CTEs
    * `<p>cents(cell, cvec)`, `<p>sim`, `<p>assigned`; starts with
    * `WITH`. `extraSim` rides extra columns through sim → assigned as
    * (selectExpr over `e`, output name); `keepCvec` carries the
    * assigned cell's centroid vector along. */
  private[operators] def duckdbAssignCte(prefix: String,
      centroids: Array[(Int, Array[Float])],
      extraSim: Seq[(String, String)] = Nil,
      keepCvec: Boolean = false): String = {
    val rows = centroids.map { case (c, v) =>
      s"($c, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n   ")
    val simExtra = extraSim.map { case (e, n) => s"$e AS $n, " }.mkString
    val names = extraSim.map { case (_, n) => s"$n, " }.mkString
    val cvecSim = if (keepCvec) ", c.cvec" else ""
    val cvecName = if (keepCvec) ", cvec" else ""
    s"""WITH ${prefix}cents(cell, cvec) AS (VALUES
       |   $rows),
       | ${prefix}sim AS (
       |  SELECT e.vec_id, ${simExtra}c.cell$cvecSim,
       |   ${duckdbGuardedCosine("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS s
       |  FROM embeddings e CROSS JOIN ${prefix}cents c),
       | ${prefix}assigned AS (
       |  SELECT vec_id, ${names}cell$cvecName FROM (
       |   SELECT vec_id, ${names}cell$cvecName,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ${prefix}sim) WHERE rn = 1)""".stripMargin
  }

  def duckdbTopkCte(centroids: Array[(Int, Array[Float])], nprobe: Int, k: Int,
      probeFilter: String = "vec_id < 100"): String = {
    val rows = centroids.map { case (c, v) =>
      s"($c, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n   ")
    s"""WITH ivf_cents(cell, cvec) AS (VALUES
       |   $rows),
       | ivf_sim AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |   ${duckdbGuardedCosine("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS s
       |  FROM embeddings e CROSS JOIN ivf_cents c),
       | ivf_assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |   SELECT vec_id, embedding, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ivf_sim) WHERE rn = 1),
       | ivf_q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE $probeFilter),
       | ivf_qsim AS (
       |  SELECT q.query_id, q.qv, c.cell,
       |   ${duckdbGuardedCosine("CAST(q.qv AS DOUBLE[])", "c.cvec")} AS s
       |  FROM ivf_q q CROSS JOIN ivf_cents c),
       | ivf_qcells AS (
       |  SELECT query_id, qv, cell FROM (
       |   SELECT query_id, qv, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ivf_qsim) WHERE rn <= $nprobe),
       | ivf_cand AS (
       |  SELECT qc.query_id, a.vec_id AS neighbor_id,
       |   floor((${duckdbGuardedCosine("CAST(a.embedding AS DOUBLE[])", "CAST(qc.qv AS DOUBLE[])")})*1e6 + 0.5)/1e6 AS score
       |  FROM ivf_qcells qc JOIN ivf_assigned a USING (cell)),
       | ivf_topk AS (
       |  SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM ivf_cand)
       |  WHERE rank <= $k)""".stripMargin
  }
}
