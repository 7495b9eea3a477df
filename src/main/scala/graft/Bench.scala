package graft

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val loadStart = readLoadAvg()
    // Warm-up: pay session/codegen/JIT startup once, outside any timing.
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    // Also warm the managed-table write path (catalog + commit protocol +
    // bucketed-write codegen + parquet writer init): first use costs ~4 s
    // of JIT/class-loading that otherwise lands on whichever query builds
    // the session's first persisted index (bm25_incremental, alphabetically)
    // — a one-time JVM cost, not that query's work. Same class of startup
    // the two warmups above already pay outside timing (declared in
    // OPTIMIZATION_r14.md; the tiny table is dropped before timing starts).
    try {
      import spark.implicits._
      spark.sql("DROP TABLE IF EXISTS graft_bench_warmup")
      // a stale dir from a PREVIOUS JVM (catalog empty, files present)
      // fails saveAsTable with LOCATION_ALREADY_EXISTS even in Overwrite
      // mode — same guard as TextIndex.clearTable
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), "graft_bench_warmup")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      Seq((1L, "w"), (2L, "x")).toDF("doc_id", "term")
        .write.mode("overwrite").bucketBy(2, "term").sortBy("term")
        .format("parquet").saveAsTable("graft_bench_warmup")
      spark.table("graft_bench_warmup").groupBy("term").count().collect()
      spark.sql("DROP TABLE IF EXISTS graft_bench_warmup")
    } catch { case e: Exception =>
      System.err.println(s"warmup table write failed (non-fatal): $e") }
    val wanted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    // In-run noise sentinel (VERDICT r10 #1): the same fixed-work probe
    // (q1_agg, warmed once) is re-timed at the battery's start, thirds and
    // end. A contention burst mid-battery shows up as a sentinel spike
    // INSIDE the artifact, so a loaded-VM round is distinguishable from a
    // code regression without needing a second run.
    val sentinelFn = SparkEntry.queries.get("q1_agg")
    sentinelFn.foreach(fn => fn(spark, sfDir).count()) // steady-state warm
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def probeSentinel(): Unit = sentinelFn.foreach { fn =>
      val t0 = System.nanoTime(); fn(spark, sfDir).count()
      sentinels += (((System.nanoTime() - t0) / 1e9, readLoadAvg()))
    }
    val n = wanted.size
    val probeBefore: Set[Int] = if (n >= 3) Set(0, n / 3, 2 * n / 3) else Set(0)
    // A failed query must be visible, not recorded as a fast success:
    // its time is negated in the per-query map, it is excluded from the
    // total, and the error message lands in an "errors" object.
    val results = wanted.zipWithIndex.map { case ((name, fn), i) =>
      if (probeBefore(i)) probeSentinel()
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    probeSentinel()
    val (fullLine, stdoutLine) = Bench.renderLines(results, sfDir,
      loadStart = loadStart, loadEnd = readLoadAvg(), cpuSec = processCpuSec(),
      sentinels = sentinels.toSeq)
    // Stdout tails get truncated by log collectors at 2000 chars
    // (BENCH_r03/r04 lost the head of the JSON line mid-key); the full
    // 97-query map CANNOT fit that window, so stdout carries a compact,
    // always-parseable line — headline-query subset at ms precision plus
    // the total — and the committed file carries every query at full
    // precision for round-over-round comparison.
    try {
      val dir = java.nio.file.Paths.get("bench/outputs")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("bench_latest.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      // a TAGGED copy survives later runs: the driver's (possibly
      // contended) per-round run overwrites bench_latest.json, which
      // clobbered the committed idle anchors of r11/r12 — a tag like
      // "r13_idle" pins an anchor to its own filename (VERDICT r12 #7)
      sys.env.get("SPARK_GRAFT_BENCH_TAG").foreach { tag =>
        java.nio.file.Files.write(
          dir.resolve(s"bench_${tag.replaceAll("[^A-Za-z0-9_.-]", "_")}.json"),
          (fullLine + "\n").getBytes("UTF-8"))
      }
    } catch { case e: Exception => System.err.println(s"bench file write failed: $e") }
    println(stdoutLine)
    spark.stop()
  }

  /** 1-minute load average from /proc/loadavg, or -1 where unreadable.
    * BENCH_r07 recorded 10-20x per-query swings (quality_filter 1.8->21.5s,
    * recall_hnsw 1.4->26s) that reproduced at r6-level speeds on an idle
    * box minutes later — the driver's bench can land on a loaded VM, and
    * without a contention signal in the line those swings read as code
    * regressions. */
  private def readLoadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Total JVM process CPU seconds (utime+stime incl. child-thread work),
    * or -1 where the platform bean is unavailable. cpu_sec/total >> 1 on a
    * healthy 32-way run; a total that grows while cpu_sec doesn't is
    * external contention, not engine work. */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Renders (full-precision file line, compact stdout line). Factored so
    * the stdout-contract spec can pin: the compact line parses as one
    * complete JSON object and fits a 2000-char log-collector tail with
    * room for sbt's trailing success line. */
  private[graft] def renderLines(results: Seq[(String, Double, Option[String])],
      sfDir: String, loadStart: Double = -1.0, loadEnd: Double = -1.0,
      cpuSec: Double = -1.0,
      sentinels: Seq[(Double, Double)] = Nil): (String, String) = {
    def esc(s: String) = s.replaceAll("[\"\\\\\n\r\t]", " ").take(200)
    def qsJson(rs: Seq[(String, Double, Option[String])], round3: Boolean) =
      rs.map { case (k, v, err) =>
        val t = if (err.isEmpty) v else -v
        "\"" + k + "\":" + (if (round3) f"$t%.3f" else t.toString)
      }.mkString("{", ",", "}")
    val failing = results.collect { case (k, _, Some(m)) => (k, m) }
    val errs = failing.map { case (k, m) => "\"" + k + "\":\"" + esc(m) + "\"" }
      .mkString("{", ",", "}")
    // stdout carries at most 3 error messages (80 chars each) plus the
    // count; a multi-failure run must not blow the 2000-char collector
    // tail exactly when the driver most needs the error signal — the full
    // errors object lives only in bench_latest.json
    val errsCompact = failing.take(3)
      .map { case (k, m) => "\"" + k + "\":\"" + esc(m).take(80) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    // box-contention telemetry: 1-min loadavg at battery start/end plus
    // process CPU seconds — lets round-over-round comparison discount
    // loaded-VM noise (see readLoadAvg). ~55 chars, inside the tail budget.
    // sentinel telemetry: 4 probes x (secs, loadavg) ~ 60 chars, inside
    // the stdout tail budget; [] when the probe query is absent
    val sentJson = sentinels.map { case (t, _) => f"$t%.3f" }.mkString("[", ",", "]")
    val sentLoad = sentinels.map { case (_, l) => f"$l%.2f" }.mkString("[", ",", "]")
    val tele = f""""load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"cpu_sec":$cpuSec%.1f,"sentinel":$sentJson,"sentinel_load":$sentLoad"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qsJson(results, round3 = false)},"errors":$errs,$tele,"sf":"$sfDir"}"""
    val headline = Set(
      "q1_agg", "q3_topk_join", "q5_nation_revenue", "q_range_join",
      "q_window_topk", "q_sessions_batch", "q_click_attrib_last",
      "knn_exact_cosine", "knn_hnsw_cosine", "knn_lsh_cosine",
      "knn_sq_euclid", "knn_ivf_cosine", "knn_ivfpq_euclid",
      "knn_ivfhnsw_cosine", "recall_hnsw", "recall_ivfhnsw", "recall_lsh",
      "dedup_exact", "minhash_lsh_pairs", "simhash_near_dup",
      "near_dup_embeddings_lsh", "decontaminate_bloom", "tfidf_top_terms",
      "quality_filter", "token_stats", "seq_packing", "multimodal_knn",
      "bm25_top_docs", "rrf_fusion_bm25",
      "knn_bq_cosine", "knn_rabitq_cosine", "knn_mrl_cosine", "dup_ngram_spans",
      "phrase_search", "dsir_select", "dedup_trim", "hard_negatives",
      "bpe_token_stats", "sample_weighted",
      "knn_pca_cosine", "ppl_filter", "prune_prototypes",
      "media_image_features", "media_audio_features",
      "bridge_knn", "pack_from_tokens", "media_dedup_split", "sgns_knn")
    // failed queries surface on stdout (negated time), but capped: the
    // headline set plus at most 12 extra failures keeps the worst case
    // (every query failing) inside the tail window
    // 3 (was 12→4) since the media_*/bridge/pack/sgns headline entries
    // and the sentinel telemetry ate ~240 chars of the worst-case budget
    val extraFail = failing.map(_._1).filterNot(headline).take(3).toSet
    val sub = results.filter { case (k, _, e) =>
      headline(k) || (e.isDefined && extraFail(k)) }
    val stdoutLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${qsJson(sub, round3 = true)},"errors":$errsCompact,"nerr":${failing.size},"nq":${results.size},$tele,"file":"bench/outputs/bench_latest.json","sf":"$sfDir"}"""
    (fullLine, stdoutLine)
  }
}
