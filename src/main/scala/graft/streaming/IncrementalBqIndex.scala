package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Bq, IvfBq, IvfFlat, IvfRabitq, Opq, RabitQ}

/** Incrementally maintained COMPRESSED vector index: the round-8 batch
  * `IvfBq` (cell-routed residual sign codes, 32× smaller than float32)
  * behind the text-index EPOCH-HANDOFF contract — the roadmap item
  * "residual binary codes in the streaming maintainers".
  *
  * Layout at `path` (all plain parquet):
  *   - `centroids/`, `thresholds/`, `meta/` — the FROZEN coarse
  *     quantizer (trained once at [[build]]; appends never move it —
  *     the [[IncrementalIvfIndex]] frozen-quantizer contract, same
  *     growth/compaction story)
  *   - `codes/epoch=<tag>/` — (cell, id, bits) packed code rows, one
  *     partition directory per epoch. The epoch tag makes appends
  *     IDEMPOTENT: re-running an epoch (a Structured Streaming
  *     micro-batch retry replays its batchId) OVERWRITES the same
  *     directory instead of appending duplicate rows.
  *   - `vectors/epoch=<tag>/` — (cell, vec_id, embedding) originals for
  *     the exact rerank, appended in step and CELL-CLUSTERED like the
  *     codes so serve waves prune the rerank scan to probed cells
  *     (meta `vec_cell` records the layout; pre-round-14 stores keep
  *     the plain (vec_id, embedding) form and serve unpruned)
  *   - `deletes/` — (vec_id) delete vector; serving anti-joins it
  *
  * Unlike the pinned-shard [[IncrementalIvfIndex]] (executor-resident
  * mutable HNSW graphs — lowest query latency, but state lives and dies
  * with the executors), this maintainer is STORAGE-BACKED: every append
  * is durable parquet, any session serves it cold via the unchanged
  * batch [[IvfBq.knnJoin]], and a lost executor costs nothing. The
  * trade: no graph traversal — serving is the compressed Hamming scan
  * of the probed cells. Batch-built and stream-built indexes are
  * bit-identical (spec-pinned), exactly like
  * `TextIndex.streamingAppendEpochs`.
  */
object IncrementalBqIndex {

  private def dir(path: String, part: String) = s"$path/$part"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Write code rows CLUSTERED BY CELL: range-partitioned + sorted on
    * `cell`, with small (8 MB) parquet row groups, so a cell-routed
    * serve prunes to the probed cells' row groups via min/max stats
    * instead of scanning every code (measured at the 100M point: the
    * full-codes scan dominated SMALL serving waves). Same schema, same
    * rows — layout only; every reader is unchanged. */
  private def writeCodes(encoded: DataFrame, to: String): Unit =
    // no explicit partition count: with none pinned, AQE coalesces the
    // range shuffle to the data's actual size (guide §2 — partitioning
    // derived from input size, not a constant tuned for one scale), so
    // a 200-row describe store writes 1 file and a 100M build spreads
    // over spark.sql.shuffle.partitions. Was a hard 64, which paid a
    // 64-task shuffle + 64 files per epoch regardless of batch size.
    encoded.repartitionByRange(col("cell"))
      .sortWithinPartitions("cell")
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(to)

  /** The rerank VECTORS store, cell-clustered the same way ([[writeCodes]]
    * layout over `(cell, vec_id, embedding)` rows): the rerank join's
    * scan of the originals prunes to the probed cells' row groups via
    * `cells.pruneRerankBase`, instead of scanning the full float32 table
    * per serve wave — at 100M the unpruned 26 GB scan WAS the warm
    * single-query latency (4.8 s, BASELINE r13); at 1B it would be
    * 260 GB per wave. The cell column is written from the SAME
    * assignment as the code rows, so pruning can never drop a candidate
    * (pruned ≡ unpruned, spec-pinned). */
  private def writeVectors(vecs: DataFrame, to: String): Unit =
    // AQE-sized range shuffle, as in [[writeCodes]]
    vecs.select(col("cell").cast("int"), col("vec_id"), col("embedding"))
      .repartitionByRange(col("cell"))
      .sortWithinPartitions("cell")
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(to)

  /** Fit the quantizer + codes on the initial corpus and write the full
    * layout. `numCells` scales with the expected corpus (the P-sizing
    * rule); `residual = true` is the clustered-corpus configuration.
    *
    * `family` picks the code kernel behind the SAME epoch layout:
    *   - `"bq"` — residual/global sign bits ranked by Hamming (round 8)
    *   - `"rabitq"` — rotated-residual sign bits + per-vector factor
    *     ranked by the unbiased estimator, the family whose SMALL rerank
    *     survives embedding widths (BASELINE round 10: plain BQ needs
    *     rerank ≈ 0.4%·n at d≥768; the estimator does not). Always
    *     residual-form; the rotation is rebuilt from `seed` on load
    *     (deterministic Gram–Schmidt — nothing extra to persist). */
  def build(base: DataFrame, path: String, numCells: Int = 16,
      residual: Boolean = true, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      initCentroids: Option[Array[(Int, Array[Float])]] = None,
      family: String = "bq"): Unit = {
    require(family == "bq" || family == "rabitq",
      s"unknown code family '$family' (bq | rabitq)")
    // rabitq codes ARE rotated-residual sign bits — a residual=false
    // request would be silently ignored and then recorded in meta as
    // given, misleading every later reader of the layout
    require(family != "rabitq" || residual,
      "family='rabitq' is always residual-form; residual=false is not a " +
        "valid configuration")
    val spark = base.sparkSession
    import spark.implicits._
    val (centroids, thresholds, encoded) =
      if (family == "rabitq") {
        val m = IvfRabitq.fit(base, numCells, seed, idCol, vecCol,
          initCentroids = initCentroids)
        (m.centroids, Array.empty[Double], m.encoded)
      } else {
        val m = IvfBq.fit(base, numCells, seed, idCol, vecCol,
          residual = residual, initCentroids = initCentroids)
        (m.centroids, m.thresholds, m.encoded)
      }
    val fitN = encoded.count()
    centroids.toSeq.toDF("cell", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(dir(path, "centroids"))
    // sentinel row keeps the parquet readable in residual mode, where
    // thresholds are empty by design (filtered out on load)
    (Seq((-1, 0.0)) ++
        thresholds.zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("i", "thr").coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(dir(path, "thresholds"))
    Seq((residual, fitN, family, seed, true))
      .toDF("residual", "fit_n", "family", "rot_seed", "vec_cell")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir(path, "meta"))
    writeCodes(encoded, dir(path, "codes/epoch=bootstrap"))
    // vectors get their cell from the SAME argmax assignment the fit
    // used: build() always fits with balanceSlack = 0 (plain argmax
    // against the final centroids), so the broadcast re-assign here
    // reproduces the code rows' cells bit-exactly — without the
    // base ⋈ codes shuffle join, whose map output next to the
    // clustering exchange doubled peak shuffle disk and filled an
    // 80 GB box at the 100M point (measured; the spec still gates
    // pruned ≡ unpruned end to end). Callers composing their own
    // balanced fit go through fromIvf + append, where the cell rides
    // the assigned rows directly.
    writeVectors(
      IvfFlat.assign(
          base.select(col(idCol).cast("long").as("vec_id"),
            col(vecCol).cast("array<float>").as("vec")),
          centroids, "cosine")
        .select(col("cell"), col("vec_id"), col("vec").as("embedding")),
      dir(path, "vectors/epoch=bootstrap"))
    encoded.unpersist()
    ()
  }

  private case class Params(cents: Array[(Int, Array[Float])],
      residual: Boolean, thr: Array[Double], fitN: Long,
      family: String, rotSeed: Long, vecCell: Boolean)

  private def loadParams(spark: SparkSession, path: String): Params = {
    import spark.implicits._
    require(exists(spark, dir(path, "meta")),
      s"no incremental BQ index at $path — run build() first")
    val cents = spark.read.parquet(dir(path, "centroids"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    val meta = spark.read.parquet(dir(path, "meta"))
    // pre-round-10 layouts carry no family column: they are BQ indexes.
    // pre-round-14 layouts carry no vec_cell: their vectors store has no
    // cell column, so the rerank prune stays off (appends keep writing
    // the legacy layout — one store, one layout).
    val (residual, fitN, family, rotSeed) =
      if (meta.columns.contains("family"))
        meta.select("residual", "fit_n", "family", "rot_seed")
          .as[(Boolean, Long, String, Long)].first()
      else {
        val (r, n) = meta.select("residual", "fit_n")
          .as[(Boolean, Long)].first(); (r, n, "bq", 42L)
      }
    val vecCell = meta.columns.contains("vec_cell") &&
      meta.select("vec_cell").as[Boolean].first()
    val thr = spark.read.parquet(dir(path, "thresholds"))
      .as[(Int, Double)].collect().filter(_._1 >= 0).sortBy(_._1).map(_._2)
    Params(cents, residual, thr, fitN, family, rotSeed, vecCell)
  }

  /** Append a batch as one index EPOCH: assign with the frozen
    * centroids, pack codes, write the epoch's own directory — existing
    * epochs are never rewritten, and re-running the SAME `epochTag`
    * overwrites its directory (idempotent retries). Like
    * `TextIndex.append`, re-adding an id that sits in the delete vector
    * fails loudly — run [[compact]] first (the delete would silently
    * swallow the new row and the next compaction would drop it for
    * good). */
  def append(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      epochTag: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val p = loadParams(spark, path)
    val src = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"))
    if (exists(spark, dir(path, "deletes"))) {
      val shadowed = src.join(
        broadcast(spark.read.parquet(dir(path, "deletes"))
          .select(col("vec_id").as("id")).distinct()),
        Seq("id"), "left_semi").limit(1).count()
      require(shadowed == 0,
        s"append to $path includes ids in the delete vector — run " +
          "compact() first, or the re-added rows would be silently " +
          "hidden and dropped at the next compaction")
    }
    val tag = epochTag.getOrElse(
      java.util.UUID.randomUUID().toString.take(12))
    val assigned = IvfFlat.assign(src, p.cents, "cosine")
      .select(col("cell").cast("int"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])]
    val encoded = (if (p.family == "rabitq") {
      // rebuild the deterministic rotation; rotated centroids are the
      // same exact-double constants the bootstrap fit used
      val d = p.cents.head._2.length
      val rot = RabitQ.randomRotation(d, p.rotSeed)
      val rotCents = p.cents.map(c => IvfRabitq.rotateCentroid(rot, c._2))
      val bcR = spark.sparkContext.broadcast(rot)
      val bcRc = spark.sparkContext.broadcast(rotCents)
      assigned.mapPartitions { rows =>
        val rcs = bcRc.value
        // blocked kernel (Opq.rotatedRows): bit-identical codes,
        // ~fewer d² widenings + 4x arithmetic intensity per matrix pass
        Opq.rotatedRows(bcR.value, rows,
            (t: (Int, Long, Array[Float])) => t._3)
          .map { case ((cell, id, _), rv) =>
            val (bits, g) = IvfRabitq.encodeResidual(rv, rcs(cell))
            (cell, id, bits, g)
          }
      }.toDF("cell", "id", "bits", "g")
    } else {
      val bcC = spark.sparkContext.broadcast(p.cents.map(_._2))
      val bcT = spark.sparkContext.broadcast(p.thr)
      assigned.mapPartitions { rows =>
        val cs = bcC.value; val t = bcT.value
        rows.map { case (cell, id, v) =>
          val bits =
            if (p.residual) IvfBq.packResidualBits(v, cs(cell))
            else Bq.packBits(v, t)
          (cell, id, bits)
        }
      }.toDF("cell", "id", "bits")
    }).persist()
    // COMMIT ORDER: vectors first, codes last. Serving starts from the
    // code rows and reranks via an inner join to vectors, so the codes
    // write is the epoch's commit point — a crash between the two writes
    // leaves an orphan vectors/epoch (invisible to serving, superseded on
    // the idempotent retry) instead of code rows whose originals are
    // missing (which the rerank join would drop SILENTLY — quiet recall
    // loss nothing detects). compact() anchors its live set on committed
    // codes for the same reason.
    if (p.vecCell)
      // cell from the SAME assigned rows the codes are packed from
      writeVectors(assigned.toDF("cell", "vec_id", "embedding"),
        dir(path, s"vectors/epoch=$tag"))
    else
      // legacy (pre-cell) store: keep its layout — one store, one layout,
      // or a mixed vectors union would null the cell column for old
      // epochs and the prune would silently drop their candidates
      src.select(col("id").as("vec_id"), col("vec").as("embedding"))
        .write.mode(SaveMode.Overwrite)
        .parquet(dir(path, s"vectors/epoch=$tag"))
    writeCodes(encoded, dir(path, s"codes/epoch=$tag"))
    encoded.unpersist()
    ()
  }

  /** Record deletions (bounded id rows); every serving path anti-joins
    * the delete vector until [[compact]] folds it away. */
  def remove(ids: DataFrame, path: String, idCol: String = "vec_id"): Unit = {
    ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      .write.mode(SaveMode.Append).parquet(dir(path, "deletes"))
  }

  private def minusDeletes(spark: SparkSession, path: String,
      df: DataFrame, on: String): DataFrame =
    if (exists(spark, dir(path, "deletes")))
      df.join(broadcast(spark.read.parquet(dir(path, "deletes"))
          .select(col("vec_id").as(on)).distinct()), Seq(on), "left_anti")
        // the join moves the key column first — restore the layout order
        // (IvfBq reads its code table positionally)
        .select(df.columns.map(col).toIndexedSeq: _*)
    else df

  /** All live code rows (epoch partition column dropped, layout order —
    * the rabitq family carries its per-vector factor column). */
  private def liveCodes(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(dir(path, "codes"))
    val cols = if (raw.columns.contains("g")) Seq("cell", "id", "bits", "g")
               else Seq("cell", "id", "bits")
    minusDeletes(spark, path, raw.select(cols.map(col).toIndexedSeq: _*), "id")
  }

  /** The current serving model: frozen quantizer + the union of all
    * code epochs minus deletes. `withCounts` additionally scans the
    * live rows for per-cell populations — only [[knnJoinAdaptive]]
    * needs them, so the fixed-rerank path skips that O(n) pass. */
  def model(spark: SparkSession, path: String,
      withCounts: Boolean = false): IvfBq.Model =
    model(spark, path, loadParams(spark, path), withCounts)

  /** Params-supplied overload: serve paths that already dispatched on
    * loadParams pass it through rather than re-reading the
    * meta/centroids/thresholds parquet a second time per call. */
  private def model(spark: SparkSession, path: String, p: Params,
      withCounts: Boolean): IvfBq.Model = {
    require(p.family == "bq",
      s"$path is a '${p.family}' index — use rabitqModel()/knnJoin()")
    val codes = liveCodes(spark, path)
    val counts =
      if (withCounts)
        codes.groupBy("cell").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      else Map.empty[Int, Long]
    IvfBq.Model(p.cents, p.thr, codes, p.residual, counts)
  }

  /** The serving model of a `family = "rabitq"` index: rotation rebuilt
    * from the persisted seed, codes the live epoch union. `withCounts`
    * scans live populations for the adaptive serving paths. */
  def rabitqModel(spark: SparkSession, path: String,
      withCounts: Boolean = false): IvfRabitq.Model =
    rabitqModel(spark, path, loadParams(spark, path), withCounts)

  private def rabitqModel(spark: SparkSession, path: String, p: Params,
      withCounts: Boolean): IvfRabitq.Model = {
    require(p.family == "rabitq",
      s"$path is a '${p.family}' index — use model()")
    val d = p.cents.head._2.length
    val rot = RabitQ.randomRotation(d, p.rotSeed)
    val rotCents = p.cents.map(c => IvfRabitq.rotateCentroid(rot, c._2))
    val codes = liveCodes(spark, path)
    val counts =
      if (withCounts)
        codes.groupBy("cell").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      else Map.empty[Int, Long]
    IvfRabitq.Model(p.cents, rot, rotCents, codes, counts)
  }

  /** Originals for the rerank stage (minus deletes). */
  def vectors(spark: SparkSession, path: String): DataFrame =
    minusDeletes(spark, path,
      spark.read.parquet(dir(path, "vectors"))
        .select("vec_id", "embedding"), "vec_id")

  /** The rerank base the serve paths pass to the IVF operators: on a
    * cell-clustered store ([[writeVectors]] layout) the `cell` column
    * rides along, so `cells.pruneRerankBase` inside the operator prunes
    * the rerank scan to the probed cells' row groups; legacy stores get
    * the plain (vec_id, embedding) table and the prune stays off. */
  private def rerankBase(spark: SparkSession, path: String,
      p: Params): DataFrame =
    if (p.vecCell)
      minusDeletes(spark, path,
        spark.read.parquet(dir(path, "vectors"))
          // the INTERNAL marker name — pruneRerankBase keys on it, so a
          // caller's own `cell` column can never trigger the prune
          .select(col("cell").as(graft.functions.cells.RerankCellCol),
            col("vec_id"), col("embedding")), "vec_id")
    else vectors(spark, path)

  /** Serve with the UNCHANGED batch operator over the epoch union —
    * stream-built, batch-served. Dispatches on the index's code family
    * (BQ Hamming scan vs RaBitQ estimator scan). For a rabitq index,
    * `u4 = true` serves through the bit-sliced production kernel
    * (scan cost flat in d; candidates differ from the exact-estimator
    * scan only within the query-quantization error — spec-pinned). */
  def knnJoin(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerank: Int = 100,
      scoreDigits: Int = -1, u4: Boolean = false): DataFrame = {
    val p = loadParams(spark, path)
    if (p.family == "rabitq") {
      val m = rabitqModel(spark, path, p, withCounts = false)
      if (u4)
        IvfRabitq.knnJoinU4(m, rerankBase(spark, path, p), queries, k, nprobe,
          rerank, scoreDigits = scoreDigits)
      else
        IvfRabitq.knnJoin(m, rerankBase(spark, path, p), queries, k, nprobe,
          rerank, scoreDigits = scoreDigits)
    } else {
      // no bit-sliced kernel exists for the bq family — a silent no-op
      // would let callers believe they are on the u4 scan when they are
      // not (ADVICE r10)
      require(!u4, s"$path is a 'bq' index — u4 bit-sliced serving is a " +
        "rabitq-family kernel")
      IvfBq.knnJoin(model(spark, path, p, withCounts = false),
        rerankBase(spark, path, p), queries, k,
        nprobe, rerank, scoreDigits = scoreDigits)
    }
  }

  /** MULTI-INDEX FEDERATION (the round-8 roadmap item): serve one query
    * set across SEVERAL incremental indexes — a frozen bulk index plus
    * a fresh streaming one, per-tenant or per-day shards — with a
    * GLOBAL top-k merge. Correctness rests on the rerank contract:
    * every per-index candidate is re-scored by the EXACT similarity on
    * original vectors, so scores are comparable across indexes
    * regardless of how each index's quantizer was trained. The merge is
    * a union of per-index exact-scored top-k → dedupe ids that live in
    * more than one index (same vector ⇒ same exact score; max() is the
    * safe fold) → one rank window. Per-index serving keeps its own
    * nprobe/rerank; `scoreDigits` must round at the federation level
    * only, or cross-index ties would re-rank differently — per-index
    * calls therefore run unrounded.
    *
    * At fleet scale each index's probe is already cell-routed, and the
    * merge adds one (query_id)-keyed top-k over ≤ paths·k rows per
    * query — negligible next to the probes. */
  def knnJoinFederated(spark: SparkSession, paths: Seq[String],
      queries: DataFrame, k: Int, nprobe: Int = 4, rerank: Int = 100,
      scoreDigits: Int = -1, u4: Boolean = false): DataFrame = {
    require(paths.nonEmpty, "federate at least one index")
    val perIndex = paths.map { p =>
      knnJoin(spark, p, queries, k, nprobe, rerank, scoreDigits = -1,
          u4 = u4)
        .select("query_id", "neighbor_id", "score")
    }.reduce(_ unionByName _)
    val merged = perIndex
      .groupBy("query_id", "neighbor_id").agg(max("score").as("score"))
    val rounded =
      if (scoreDigits >= 0)
        merged.withColumn("score", graft.Qutil.rnd(col("score"), scoreDigits))
      else merged
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    rounded.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Per-index staleness metadata for a federation: live row count,
    * quantizer fit-corpus size, and growth since fit (the compaction
    * trigger) — the signal for WHICH member to refit or fold. */
  def federationStatus(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    paths.map { p =>
      val fitN = loadParams(spark, p).fitN
      val live = indexedCount(spark, p)
      val growth =
        if (fitN <= 0) Double.PositiveInfinity else live.toDouble / fitN
      (p, live, fitN, growth)
    }.toDF("path", "indexed_count", "fit_n", "growth_since_fit")
  }

  /** Adaptive-overfetch serving: per-query rerank sized from the probed
    * cells' LIVE populations (recomputed per call) — the right knob
    * here, because epochs grow cells continuously and residual hammings
    * only rank within a cell, so a fixed global rerank decays exactly
    * the way the 10M study measured. */
  def knnJoinAdaptive(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, rerankFrac: Double = 0.1,
      rerankMin: Int = 100, scoreDigits: Int = -1): DataFrame = {
    val p = loadParams(spark, path)
    if (p.family == "rabitq")
      IvfRabitq.knnJoinAdaptive(
        rabitqModel(spark, path, p, withCounts = true),
        rerankBase(spark, path, p), queries,
        k, nprobe, rerankFrac, rerankMin, scoreDigits = scoreDigits)
    else
      IvfBq.knnJoinAdaptive(model(spark, path, p, withCounts = true),
        rerankBase(spark, path, p), queries,
        k, nprobe, rerankFrac, rerankMin, scoreDigits = scoreDigits)
  }

  /** Adaptive-nprobe serving over the live index: each query probes its
    * ranked cells until their live population covers `minCandidates`
    * (see [[IvfBq.knnJoinAdaptiveProbe]]) — dense landings stop early,
    * sparse ones keep probing; rerank sized from the kept cells. */
  def knnJoinAdaptiveProbe(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, maxNprobe: Int = 16, minNprobe: Int = 1,
      minCandidates: Int = 2000, rerankFrac: Double = 0.1,
      rerankMin: Int = 100, scoreDigits: Int = -1): DataFrame = {
    val p = loadParams(spark, path)
    if (p.family == "rabitq")
      IvfRabitq.knnJoinAdaptiveProbe(
        rabitqModel(spark, path, p, withCounts = true),
        rerankBase(spark, path, p), queries, k, maxNprobe, minNprobe,
        minCandidates, rerankFrac, rerankMin, scoreDigits = scoreDigits)
    else
      IvfBq.knnJoinAdaptiveProbe(model(spark, path, p, withCounts = true),
        rerankBase(spark, path, p), queries, k, maxNprobe, minNprobe,
        minCandidates, rerankFrac, rerankMin, scoreDigits = scoreDigits)
  }

  /** Live row count (codes minus deletes). */
  def indexedCount(spark: SparkSession, path: String): Long =
    liveCodes(spark, path).count()

  /** Indexed-corpus growth past the frozen quantizer's fit corpus — the
    * compaction trigger (the round-6 drift measurement: recall decline
    * is growth-driven; refit must SCALE C with growth). */
  def growthSinceFit(spark: SparkSession, path: String): Double = {
    val fitN = loadParams(spark, path).fitN
    if (fitN <= 0) Double.PositiveInfinity
    else indexedCount(spark, path).toDouble / fitN
  }

  def needsCompaction(spark: SparkSession, path: String,
      factor: Double = 2.0): Boolean =
    growthSinceFit(spark, path) >= factor

  /** One-row store observability ([[graft.operators.StoreDescription]]
    * contract, VERDICT r10 #7): live/deleted rows, epoch count, bytes
    * on disk, growth past the frozen quantizer and the compaction
    * trigger already evaluated — params load ONCE and every consumer
    * below shares them. */
  def describe(spark: SparkSession, path: String,
      factor: Double = 2.0): org.apache.spark.sql.DataFrame = {
    import graft.operators.{StoreDescribe, StoreDescription}
    val p = loadParams(spark, path)
    val live = indexedCount(spark, path)
    val deleted =
      if (exists(spark, dir(path, "deletes")))
        spark.read.parquet(dir(path, "deletes"))
          .select("vec_id").distinct().count()
      else 0L
    val growth =
      if (p.fitN <= 0) None else Some(live.toDouble / p.fitN)
    val dim = p.cents.headOption.map(_._2.length).getOrElse(0)
    StoreDescribe.toDf(spark, StoreDescription(
      store_kind = "incremental_bq",
      location = path,
      family = p.family,
      live_rows = live,
      deleted_rows = deleted,
      epochs = StoreDescribe.epochDirs(spark, dir(path, "codes")),
      bytes_on_disk = StoreDescribe.pathBytes(spark, path),
      growth_since_fit = growth,
      needs_compaction = growth.exists(_ >= factor),
      detail = s"cells=${p.cents.length} dim=$dim " +
        s"residual=${p.residual} fit_n=${p.fitN} rot_seed=${p.rotSeed}"))
  }

  /** COMPACTION. `refit = false` folds epochs + deletes into a fresh
    * single-epoch layout under the SAME quantizer (serving bit-identical
    * before/after — spec-pinned). `refit = true` retrains the quantizer
    * over everything currently indexed (pass `numCells` scaled by
    * growth — the recovery path for growth-driven recall decline).
    *
    * Crash safety: the replacement layout is fully written to a temp
    * dir first, then the live parts move ASIDE (rename, checked) before
    * the replacements move in, and the aside copy is only deleted after
    * every move succeeded — a failure at any point leaves either the
    * old layout live or both copies on disk, never neither. */
  /** `warmStart = true` on a refit seeds Lloyd from the CURRENT frozen
    * centroids (IvfFlat warm start) — cell i keeps its identity across
    * the compaction, so cell ids stay comparable for external routing
    * tables / logs. Only meaningful when the cell count is unchanged;
    * a growth-scaled `numCells` falls back to cold training (a new
    * geometry has no identities to preserve). */
  def compact(spark: SparkSession, path: String, refit: Boolean = false,
      numCells: Int = -1, warmStart: Boolean = false): Unit = {
    val prm = loadParams(spark, path)
    val (cents, residual, fitN0) = (prm.cents, prm.residual, prm.fitN)
    val tmp = dir(path, ".compact")
    // live set anchored on COMMITTED codes: an orphan vectors/epoch left
    // by a crash mid-append (vectors land before codes — see append) was
    // never acknowledged and must not resurrect here
    val live = vectors(spark, path).join(
      liveCodes(spark, path).select(col("id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    if (refit) {
      val c = if (numCells > 0) numCells else cents.length
      val warm = if (warmStart && c == cents.length) Some(cents) else None
      // same seed on refit: the rabitq rotation keeps its identity (codes
      // retrain against the new centroids, the rotation never moves)
      build(live, tmp, c, residual, seed = prm.rotSeed,
        initCentroids = warm, family = prm.family)
    } else {
      // same quantizer: rewrite codes/vectors minus deletes, keep params
      val lc = liveCodes(spark, path)
      writeCodes(lc, dir(tmp, "codes/epoch=compacted"))
      // fold-compaction UPGRADES a legacy store to the cell-clustered
      // vectors layout (cells from the live code rows — the one
      // assignment); max() is a no-op fold for a sane store (one cell
      // per id) and deterministic if an id was ever double-appended
      writeVectors(
        live.join(lc.groupBy(col("id").as("vec_id"))
          .agg(max("cell").as("cell")), Seq("vec_id")),
        dir(tmp, "vectors/epoch=compacted"))
      spark.read.parquet(dir(path, "centroids"))
        .write.mode(SaveMode.Overwrite).parquet(dir(tmp, "centroids"))
      spark.read.parquet(dir(path, "thresholds"))
        .write.mode(SaveMode.Overwrite).parquet(dir(tmp, "thresholds"))
      import spark.implicits._
      // fold-only compaction keeps the SAME quantizer — fit_n must keep
      // the original fit-corpus size or growthSinceFit would hide the
      // very growth the compaction trigger watches
      Seq((residual, fitN0, prm.family, prm.rotSeed, true))
        .toDF("residual", "fit_n", "family", "rot_seed", "vec_cell")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir(tmp, "meta"))
    }
    val f = fs(spark, path)
    def mv(from: String, to: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(from)
      if (f.exists(src)) {
        require(f.rename(src, new org.apache.hadoop.fs.Path(to)),
          s"compact: rename $from -> $to failed; index left intact " +
            s"(old layout still live, replacement under $tmp)")
      }
    }
    val aside = dir(path, ".compact-old")
    f.mkdirs(new org.apache.hadoop.fs.Path(aside))
    val parts = Seq("codes", "vectors", "centroids", "thresholds", "meta")
    parts.foreach(p => mv(dir(path, p), s"$aside/$p"))
    parts.foreach(p => mv(dir(tmp, p), dir(path, p)))
    f.delete(new org.apache.hadoop.fs.Path(dir(path, "deletes")), true)
    f.delete(new org.apache.hadoop.fs.Path(aside), true)
    f.delete(new org.apache.hadoop.fs.Path(tmp), true)
    ()
  }

  /** Drop the whole index. */
  def drop(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    ()
  }

  /** foreachBatch → one [[append]] epoch per micro-batch, tagged by the
    * micro-batch id — an at-least-once RETRY of a batch overwrites its
    * own epoch directory instead of appending duplicates, so the
    * stream-built ≡ batch-built identity survives replays. The index
    * must exist ([[build]] on the bootstrap corpus — the quantizer
    * needs training data).
    *
    * `checkpoint` is REQUIRED: the idempotent-retry contract holds only
    * for CHECKPOINTED restarts — without one, a restarted query begins
    * again at batchId 0 and its epoch overwrite would silently replace
    * earlier epochs holding different data (the ImageDup
    * streamingHashAppend contract). */
  def streamingAppend(stream: DataFrame, path: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : StreamingQuery = {
    require(exists(stream.sparkSession, dir(path, "meta")),
      s"no incremental BQ index at $path — build() on a bootstrap corpus first")
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try { if (!b.isEmpty) append(b, path, idCol, vecCol,
          epochTag = Some(s"b$batchId")) }
        finally { b.unpersist(); () }
      }.start()
  }

  /** The COMPACTION POLICY, evaluated and ACTED on (VERDICT r11 #5 —
    * `describe()` exposes `growth_since_fit` and the trigger, this
    * closes the loop): when growth since the frozen quantizer's fit has
    * reached `factor`, run the growth-scaled refit — the
    * BASELINE-measured remedy for growth-driven recall decline: C
    * scales with growth (cells stay ~constant-occupancy, so a fixed
    * nprobe/C FRACTION keeps its touched-fraction meaning; scale nprobe
    * with growth at serve time or use [[knnJoinAdaptive]]). Returns
    * true when it fired; growth is ~1 afterwards, so back-to-back calls
    * are no-ops. */
  def autoCompact(spark: SparkSession, path: String,
      factor: Double = 2.0): Boolean = {
    val growth = growthSinceFit(spark, path)
    if (growth >= factor && !growth.isInfinity) {
      val c = math.max(1, math.round(
        loadParams(spark, path).cents.length * growth).toInt)
      compact(spark, path, refit = true, numCells = c)
      true
    } else false
  }

  /** [[streamingAppend]] with [[autoCompact]] wired between
    * micro-batches. The policy runs BEFORE each batch's append, never
    * after: a foreachBatch replay can only involve the latest
    * UNCOMMITTED batch, and evaluating the policy on entry means
    * compaction only ever folds epochs of committed batches — so the
    * replay-overwrites-its-own-epoch idempotence contract survives the
    * policy (a post-append compact could fold an uncommitted epoch and
    * let its replay re-append folded rows). */
  def streamingAppendAutoCompact(stream: DataFrame, path: String,
      checkpoint: String, factor: Double = 2.0, idCol: String = "vec_id",
      vecCol: String = "embedding"): StreamingQuery = {
    require(exists(stream.sparkSession, dir(path, "meta")),
      s"no incremental BQ index at $path — build() on a bootstrap corpus first")
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        autoCompact(batch.sparkSession, path, factor)
        val b = batch.persist()
        try { if (!b.isEmpty) append(b, path, idCol, vecCol,
          epochTag = Some(s"b$batchId")) }
        finally { b.unpersist(); () }
      }.start()
  }
}
