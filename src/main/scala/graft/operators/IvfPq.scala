package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ (additive beyond the reference's ANN surface, like its
  * parents; exact rerank mirrors the reference oracle kernel,
  * src/bench/metrics.ts:9-24): the composition both parents exist for —
  * IVF's coarse cells
  * bound WHICH rows a query touches (nprobe/C of the corpus), PQ's codes
  * bound HOW MUCH each touched row costs (one table lookup + add per
  * subspace on an 8-short code instead of a d-float kernel). Together a
  * query reads `nprobe/C · n` codes of `2·numSub` bytes each — at d=64,
  * numSub=8, C=64, nprobe=8 that is 1/8 of the rows at 1/16 of the bytes
  * per row vs a flat scan, before the exact rerank of top-`rerank`
  * candidates restores precision.
  *
  * Residual encoding: PQ codebooks train on (vector − cell centroid)
  * residuals, the standard IVF-PQ trick — residuals cluster much tighter
  * than raw vectors, so the same code budget quantizes finer.
  *
  * All components reuse the parents: cells from [[IvfFlat.fit]]-style
  * assignment, codes/ADC from [[Pq]]'s kernels. Deterministic end-to-end.
  */
object IvfPq {

  /** rotation (Some when fit with opqIters > 0) applies to residuals
    * before encoding — codes then live in the rotated residual space.
    * `packed` means `encoded.codes` is a binary column of 4-bit nibbles
    * (two codes per byte, codesPerSub ≤ 16) instead of array<smallint> —
    * the nprobe'd cell scan reads half the bytes per row. */
  case class Model(numCells: Int, numSub: Int, subDim: Int,
      centroids: Array[(Int, Array[Float])],
      codebooks: Array[Array[Array[Float]]],
      encoded: DataFrame, // (cell, id, codes)
      rotation: Option[Array[Array[Float]]] = None,
      packed: Boolean = false)

  private def sq(x: Float): Double = x.toDouble * x

  /** opqIters > 0 trains an OPQ-style orthogonal rotation of the
    * RESIDUAL space (Procrustes alternation on the residual sample) —
    * residuals are the natural OPQ target since the cell offset already
    * absorbed the coarse structure. 0 keeps plain residual PQ. */
  def fit(base: DataFrame, numCells: Int = 16, numSub: Int = 0,
      codesPerSub: Int = 16, sampleN: Int = 4000, iters: Int = 5,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", opqIters: Int = 0,
      packed: Boolean = false): Model = {
    require(!packed || codesPerSub <= 16,
      s"packed nibble codes need codesPerSub <= 16, got $codesPerSub")
    val spark = base.sparkSession
    import spark.implicits._
    // coarse quantizer = IvfFlat's deterministic trainer, assigned with
    // EUCLIDEAN geometry — query-time probing ranks cells by L2 distance,
    // and a cosine assignment would put unnormalized euclidean neighbors
    // in never-probed cells (silent recall collapse at any nprobe < C)
    val ivf = IvfFlat.fit(base, numCells, seed, idCol, vecCol, metric = "euclidean")
    val centroids = ivf.centroids
    val bcCents = spark.sparkContext.broadcast(centroids.map(_._2))

    // assigned rows with residuals
    val assigned = ivf.assigned // (id, vec, cell)
    val d = centroids.head._2.length
    // numSub <= 0 (default) picks Pq.autoNumSub = d/8 — the
    // regime-stable subspace width at any embedding dimension
    val nSub = if (numSub > 0) numSub else Pq.autoNumSub(d)
    require(d % nSub == 0, s"dimension $d not divisible by numSub=$nSub")
    val subDim = d / nSub

    // train PQ codebooks on a seeded sample of RESIDUALS
    val sample = assigned.withColumn("h", xxhash64(col("id"), lit(seed)))
      .orderBy("h").limit(sampleN)
      .select(col("id"), col("vec"), col("cell"))
      .as[(Long, Array[Float], Int)].collect()
      .map { case (_, v, c) =>
        val cent = centroids(c)._2
        Array.tabulate(d)(j => v(j) - cent(j))
      }
    val (rotation, codebooks) =
      if (opqIters > 0) {
        val (r, cbs) = Opq.trainRotation(sample, nSub, subDim, codesPerSub,
          iters, opqIters)
        (Some(r), cbs)
      } else
        (None, Pq.trainCodebooks(sample, nSub, subDim, codesPerSub, iters))
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val bcRot = spark.sparkContext.broadcast(rotation)

    // encode (optionally rotated) residuals, keep the cell for partition
    // pruning at query time
    def residualCodes(cell: Int, v: Array[Float]): Array[Short] = {
      val cbs = bcCb.value
      val cents = bcCents.value
      val cent = cents(cell)
      var res = Array.tabulate(v.length)(j => v(j) - cent(j))
      bcRot.value.foreach { r => res = Opq.rotate(r, res) }
      Pq.encodeVec(cbs, res, nSub, subDim)
    }
    val src = assigned.select(col("cell"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])]
    val encoded = (if (packed)
        src.mapPartitions(_.map { case (cell, id, v) =>
          (cell, id, Pq.packNibbles(residualCodes(cell, v))) })
          .toDF("cell", "id", "codes")
      else
        src.mapPartitions(_.map { case (cell, id, v) =>
          (cell, id, residualCodes(cell, v)) })
          .toDF("cell", "id", "codes"))
      .repartition(col("cell")).persist()
    encoded.count()
    // the transient coarse quantizer's persisted assignment is fully
    // consumed by the (just materialized) code table — release it, or
    // every fit leaks an n-row cache entry nothing can reach
    ivf.release()
    Model(numCells, nSub, subDim, centroids, codebooks, encoded, rotation,
      packed)
  }

  /** Persist the full composed model: codes as CELL-PARTITIONED parquet
    * (a probe at load-scale reads only its nprobe cells' files), centroids
    * + codebooks + optional rotation as tiny parquets (store CRUD contract
    * as [[Pq.save]] / reference src/db.ts:54-100; load-missing → None). */
  def save(model: Model, path: String): Unit = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    model.encoded.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/codes")
    model.centroids.toSeq.toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val cbRows = for {
      s <- model.codebooks.indices
      c <- model.codebooks(s).indices
    } yield (s, c, model.codebooks(s)(c))
    cbRows.toDF("sub", "code", "cent").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    model.rotation.foreach { rot =>
      rot.zipWithIndex.map { case (row, i) => (i, row) }.toSeq
        .toDF("i", "row").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/rotation")
    }
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Option[Model] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codebooks"))) return None
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .as[(Int, Int, Array[Float])].collect()
    val numSub = cbRows.map(_._1).max + 1
    val codesPerSub = cbRows.map(_._2).max + 1
    val codebooks = Array.ofDim[Array[Float]](numSub, codesPerSub)
    cbRows.foreach { case (s, c, cent) => codebooks(s)(c) = cent }
    val rotation =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/rotation")))
        Some(spark.read.parquet(s"$path/rotation")
          .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2))
      else None
    val encoded = spark.read.parquet(s"$path/codes")
      .select(col("cell").cast("int").as("cell"), col("id"), col("codes"))
    val packed = encoded.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType
    Some(Model(centroids.length, numSub, codebooks(0)(0).length, centroids,
      codebooks, encoded, rotation, packed))
  }

  def delete(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }

  /** nprobe-cell ADC scan + exact rerank (euclidean `1/(1+L2)` scores).
    * `adcDigits`/`scoreDigits >= 0` round the ADC rank order and the
    * rerank scores (fixed-point floor form) — required for the
    * cross-engine oracle gate, same contract as [[Pq.knnJoin]]. */
  def knnJoin(model: Model, base: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, rerank: Int = 100, queryId: String = "query_id",
      queryVec: String = "query_vec", idCol: String = "vec_id",
      vecCol: String = "embedding",
      scoreDigits: Int = -1, adcDigits: Int = -1): DataFrame = {
    require(k > 0 && rerank >= k && nprobe > 0)
    val spark = model.encoded.sparkSession
    val probes = CodeScan.collectProbes(queries, queryId, queryVec)
    // per query: its nprobe nearest cells by euclidean distance to centroid
    val cellsOf = probes.map { case (_, qv) =>
      model.centroids.map { case (c, cent) =>
        var dist = 0.0; var j = 0
        while (j < qv.length) { dist += sq(qv(j) - cent(j)); j += 1 }
        (dist, c)
      }.sortBy(t => (t._1, t._2)).take(nprobe).map(_._2)
    }
    val wantedCells = cellsOf.flatten.distinct.toSeq
    val bcQ = spark.sparkContext.broadcast(probes.map(_._2).zip(cellsOf))
    val bcCb = spark.sparkContext.broadcast(model.codebooks)
    val bcCents = spark.sparkContext.broadcast(model.centroids.map(_._2))
    val bcRot = spark.sparkContext.broadcast(model.rotation)
    val numSub = model.numSub
    val subDim = model.subDim
    // partition pruning: only scan rows of probed cells
    val pruned = model.encoded.filter(
      graft.functions.cells.cellPruneFilter(col("cell"), wantedCells))
    val topCands = Pq.adcTopCandidates(pruned, model.packed, flat = false,
      probes.zip(cellsOf).map { case ((qid, _), cells) =>
        CodeScan.Probe(qid, cells, rerank) },
      numSub, adcDigits, () => {
        val cbs = bcCb.value
        val cents = bcCents.value
        val rot = bcRot.value
        val qs = bcQ.value
        // ADC tables are per (query, probed cell): (rotated) residual space
        val luts = qs.map { case (_, cells) =>
          new Array[Array[Array[Double]]](cells.length) }
        (q, slot) => {
          if (luts(q)(slot) == null) {
            val (qv, cells) = qs(q)
            val cent = cents(cells(slot))
            var qr = Array.tabulate(qv.length)(j => qv(j) - cent(j))
            rot.foreach { r => qr = Opq.rotate(r, qr) }
            luts(q)(slot) = Pq.adcLut(cbs, qr, numSub, subDim)
          }
          luts(q)(slot)
        }
      })
    // a cell-clustered rerank store prunes to the probed cells' row groups
    KnnJoin.rerank(topCands, graft.functions.cells
        .pruneRerankBase(base, wantedCells, model.centroids.length),
      queries, k, "euclidean", queryId, queryVec, idCol, vecCol, scoreDigits)
  }

  /** DuckDB CTE reproducing the WHOLE composed IVF-PQ pipeline from
    * trained literals (centroids + codebooks + optional OPQ rotation) —
    * every stage mirrors its Spark twin's arithmetic and tie order
    * exactly:
    *   - corpus cell assignment: argmax `1/(1+L2)` with DOUBLE diffs
    *     ([[graft.functions.similarity.euclidean_sim]]), ties
    *     (s DESC, cell DESC) — the greatest(struct) order of
    *     [[IvfFlat]]'s assign;
    *   - query probe routing: Σ(FLOAT diff)² per centroid (knnJoin's own
    *     loop), ties (dist ASC, cell ASC);
    *   - residuals: FLOAT diffs vs the cell centroid, for the corpus and
    *     per (query, probed cell);
    *   - rotation (when trained): [[Opq.rotListExpr]]'s bit-exact
    *     left-associative form;
    *   - encode/LUT: [[Pq.sqDistExpr]]'s float32-diff form, ADC candidate
    *     rank by the 1e-`adcDigits`-rounded (dist, cand_id) total order,
    *     exact rerank on the ORIGINAL vectors at 1e-6.
    * Pair with `knnJoin(..., scoreDigits = 6, adcDigits = adcDigits)`.
    * Ends with CTE `pq_topk`. Packed nibble storage is a layout detail the
    * oracle never sees (packed ≡ unpacked is spec-asserted). */
  def duckdbTopkCte(centroids: Array[(Int, Array[Float])],
      codebooks: Array[Array[Array[Float]]],
      rotation: Option[Array[Array[Float]]], nprobe: Int, rerank: Int, k: Int,
      adcDigits: Int = 9, probeFilter: String = "vec_id < 100"): String = {
    val d = centroids.head._2.length
    val numSub = codebooks.length
    val subDim = d / numSub
    val centRows = centroids.map { case (c, v) =>
      val lits = v.map(_.toDouble.toString).mkString(", ")
      s"($c, CAST([$lits] AS DOUBLE[]), CAST([$lits] AS REAL[]))"
    }.mkString(",\n   ")
    // FLOAT residual vs the cell centroid (cvecf REAL[]), 1-based
    def resList(vec: String): String =
      (1 to d).map(j => s"(CAST($vec[$j] AS REAL) - c.cvecf[$j])").mkString(",\n    ")
    // query->cell distance: Σ (double)(FLOAT diff)^2, left-associative
    val qCellDist = (1 to d).map { j =>
      val x = s"CAST((CAST(q.qv[$j] AS REAL) - c.cvecf[$j]) AS DOUBLE)"
      s"$x*$x"
    }.mkString("\n    + ")
    // rotated (or identity) residual CTEs for corpus and probed queries
    val (corpusRvCte, queryRvCte) = rotation match {
      case Some(rot) => (
        s""" ipq_rv AS (
           |  SELECT vec_id, cell, [${Opq.rotListExpr(rot, "res")}] AS rv
           |  FROM ipq_res),""".stripMargin,
        s""" ipq_qrv AS (
           |  SELECT query_id, cell, [${Opq.rotListExpr(rot, "res")}] AS rv
           |  FROM ipq_qres),""".stripMargin)
      case None => (
        " ipq_rv AS (SELECT vec_id, cell, res AS rv FROM ipq_res),",
        " ipq_qrv AS (SELECT query_id, cell, res AS rv FROM ipq_qres),")
    }
    val adcScale = "1e" + adcDigits
    s"""WITH ipq_cents(cell, cvec, cvecf) AS (VALUES
       |   $centRows),
       | pq_cb(s, c, cent) AS (VALUES
       |   ${Pq.cbValuesRows(codebooks)}),
       | ipq_sim AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |   1.0/(1.0 + list_distance(CAST(e.embedding AS DOUBLE[]), c.cvec)) AS s
       |  FROM embeddings e CROSS JOIN ipq_cents c),
       | ipq_assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |   SELECT vec_id, embedding, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
       |   FROM ipq_sim) WHERE rn = 1),
       | ipq_res AS (
       |  SELECT a.vec_id, a.cell,
       |   [${resList("a.embedding")}] AS res
       |  FROM ipq_assigned a JOIN ipq_cents c USING (cell)),
       |$corpusRvCte
       | pq_enc_dist AS (
       |  SELECT e.vec_id, cb.s, cb.c,
       |   ${Pq.sqDistExpr(subDim, "e.rv")} AS dist
       |  FROM ipq_rv e CROSS JOIN pq_cb cb),
       | pq_enc AS (
       |  SELECT vec_id, s, c AS code FROM (
       |   SELECT vec_id, s, c,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
       |   FROM pq_enc_dist) WHERE rn = 1),
       | ipq_q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE $probeFilter),
       | ipq_qdist AS (
       |  SELECT q.query_id, q.qv, c.cell,
       |   $qCellDist AS dist
       |  FROM ipq_q q CROSS JOIN ipq_cents c),
       | ipq_qcells AS (
       |  SELECT query_id, qv, cell FROM (
       |   SELECT query_id, qv, cell,
       |    row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |   FROM ipq_qdist) WHERE rn <= $nprobe),
       | ipq_qres AS (
       |  SELECT qc.query_id, qc.cell,
       |   [${resList("qc.qv")}] AS res
       |  FROM ipq_qcells qc JOIN ipq_cents c USING (cell)),
       |$queryRvCte
       | pq_lut AS (
       |  SELECT q.query_id, q.cell, cb.s, cb.c,
       |   ${Pq.sqDistExpr(subDim, "q.rv")} AS dist
       |  FROM ipq_qrv q CROSS JOIN pq_cb cb),
       | pq_adc AS (
       |  SELECT l.query_id, en.vec_id AS cand_id,
       |   floor((sum(l.dist))*$adcScale + 0.5)/$adcScale AS adc_dist
       |  FROM ipq_assigned a
       |   JOIN pq_enc en ON en.vec_id = a.vec_id
       |   JOIN pq_lut l ON l.cell = a.cell AND l.s = en.s AND l.c = en.code
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
       |   JOIN ipq_q q ON q.query_id = c.query_id),
       | pq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM pq_rer)
       |  WHERE rank <= $k)""".stripMargin
  }
}
