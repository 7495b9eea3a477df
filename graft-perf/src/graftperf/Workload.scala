package graftperf

import org.apache.spark.sql.functions.{broadcast, col}

import graft.functions.similarity
import graft.hnsw.{HnswIndex, HnswModel, Metric}

/** Pieces shared by the workloads: the warm-up and window loops, the
  * traced run's layer probes, and the metric tables. */
object Workload {

  /** What a workload hands back: its set-up time, when its window
    * started, the wall and CPU ms of every step in the window, how it
    * sums up one kind of request's CPU samples, recall@10 of its kNN
    * answers, and the layer values only it can measure (traced runs). */
  final case class Outcome(setupS: Double, windowStartMs: Long, stepsMs: Seq[Double],
      stepsCpuMs: Seq[Double], perRequest: Seq[Double] => Double, recall: Double,
      layers: Map[String, Double])

  /** `steps` untimed steps. Counts are fixed, chosen where step times
    * stop falling, so set-up does the same work on every run. */
  def warmUp(steps: Int)(step: Int => Option[Double]): Int = {
    (0 until steps).foreach(i => step(i).getOrElse(sys.error("a warm-up step failed")))
    steps
  }

  /** `n` steps of the closed loop, each started only after the one
    * before has returned. Returns (wall ms, CPU ms) of the steps that
    * succeeded; `cpuTaken` hands over the CPU ms of the timed operations
    * since its last call. */
  def window(n: Int, cpuTaken: () => Double)(step: Int => Option[Double]): Seq[(Double, Double)] =
    (0 until n).flatMap { i =>
      cpuTaken()
      step(i).map(w => (w, cpuTaken()))
    }

  /** How many steps of about `stepSeconds` fill `seconds`, and at least
    * `least`. The count, not a deadline, ends the window, so every run
    * times the same steps of the JIT's warm-up curve however fast the
    * host runs that day. */
  def stepsFor(seconds: Double, stepSeconds: Double, least: Int): Int =
    math.max(least, math.round(seconds / stepSeconds).toInt)

  val KernelSlice = 1500
  val CosineRows = 2000
  val ProbeReps = 3

  /** HNSW insert and search cost on one thread, outside Spark: a
    * shard-sized slice is inserted with `HnswIndex.buildIndex`, then the
    * queries are searched with `HnswIndex.searchKNN` (k, ef = 64). */
  def kernelProbe(ctx: Ctx, vectors: Array[Array[Float]], queries: Array[Array[Float]],
      k: Int): Map[String, Double] = {
    val slice = vectors.take(KernelSlice)
    val runs = (0 until ProbeReps).map { _ =>
      val idx = new HnswIndex(16, 100, -1, Metric.Cosine, Some(64), None, 42L)
      val t0 = System.nanoTime()
      idx.buildIndex(slice.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      val t1 = System.nanoTime()
      queries.foreach(q => idx.searchKNN(q, k))
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e3 / slice.length, (t2 - t1) / 1e3 / queries.length)
    }
    Map("hnsw.kernel.insert_us" -> Stats.median(runs.map(_._1)),
      "hnsw.kernel.search_us" -> Stats.median(runs.map(_._2)))
  }

  /** `similarity.cosine_sim` over a fixed query × corpus cross join into
    * the `noop` sink: executor CPU ns per evaluated pair. */
  def cosineProbe(ctx: Ctx, vectors: Array[Array[Float]],
      queries: Array[Array[Float]]): Map[String, Double] = {
    val rows = vectors.take(CosineRows)
    val base = ctx.vectorsDf(Array.tabulate(rows.length)(_.toLong), rows, "vec_id", "embedding")
    val q = ctx.vectorsDf(Array.tabulate(queries.length)(_.toLong), queries, "query_id", "query_vec")
    val pairs = rows.length.toDouble * queries.length
    (0 until ProbeReps).foreach { _ =>
      ctx.op[Unit, Unit]("functions.cosine_sim", timed = false)(
        base.crossJoin(broadcast(q))
          .select(similarity.cosine_sim(col("embedding"), col("query_vec")).as("s"))
          .write.format("noop").mode("overwrite").save())(identity)(_ => None)
    }
    val ns = ctx.tracer.get.of("functions.cosine_sim").map(_.spark.cpuNs / pairs)
    Map("functions.cosine_sim.ns_per_pair" -> Stats.median(ns))
  }

  /** Bytes `HnswModel.save` writes, in MB. */
  def saveProbe(ctx: Ctx, model: HnswModel): Map[String, Double] = {
    val dir = s"${ctx.work}/model"
    ctx.op[Unit, Unit]("hnsw.save", timed = false)(model.save(dir))(identity)(_ => None)
    Map("hnsw.save.mb" -> bytesUnder(dir) / 1e6)
  }

  private def files(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists) Seq.empty
    else java.nio.file.Files.walk(d.toPath).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].toFile).filter(_.isFile)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
  }
  def bytesUnder(dir: String): Double = files(dir).map(_.length.toDouble).sum
  def dataFiles(dir: String): Int = files(dir).size

  /** The end-to-end metrics, the same set for every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "step_cpu_ms" -> "ms", "knn_cpu_ms" -> "ms", "bm25_cpu_ms" -> "ms",
    "recall_at_10" -> "ratio", "ops_ok_ratio" -> "ratio")

  // an empty sample only happens in a run that failed, which reports 0
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def samples(by: collection.Map[String, collection.Seq[Double]], kinds: String*): Seq[Double] =
    kinds.flatMap(k => by.getOrElse(k, Nil))
  private def p50(by: collection.Map[String, collection.Seq[Double]], kinds: String*): Double =
    med(samples(by, kinds: _*))

  def endToEnd(ctx: Ctx, o: Outcome): Map[String, Double] = {
    def perRequest(kinds: String*): Double = {
      val xs = samples(ctx.cpu, kinds: _*)
      if (xs.isEmpty) 0.0 else o.perRequest(xs)
    }
    Map("setup_s" -> o.setupS, "step_cpu_ms" -> med(o.stepsCpuMs),
      "knn_cpu_ms" -> perRequest("hnsw.knn", "inc.knn"), "bm25_cpu_ms" -> perRequest("bm25"),
      "recall_at_10" -> o.recall,
      "ops_ok_ratio" -> (ctx.attempted - ctx.failed).toDouble / ctx.attempted)
  }

  /** Wall-clock medians of the same steps and requests. They go to the
    * run report only: on a shared host they move with the neighbours'
    * load (see README). */
  def wallP50(ctx: Ctx, o: Outcome): Map[String, Double] =
    Map("step_p50_ms" -> med(o.stepsMs), "knn_p50_ms" -> p50(ctx.wall, "hnsw.knn", "inc.knn"),
      "exact_p50_ms" -> p50(ctx.wall, "exact"), "bm25_p50_ms" -> p50(ctx.wall, "bm25"))

  /** The per-layer metrics: medians over the traced operations of each
    * kind. A layer the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "hnsw.kernel.insert_us" -> "us", "hnsw.kernel.search_us" -> "us",
    "hnsw.fit.ms" -> "ms", "hnsw.fit.exec_cpu_ms" -> "ms",
    "hnsw.fit.shuffle_write_bytes" -> "bytes", "hnsw.fit.task_skew" -> "ratio",
    "hnsw.knn.call_ms" -> "ms", "hnsw.knn.exec_ms" -> "ms", "hnsw.knn.jobs" -> "count",
    "hnsw.knn.stages" -> "count", "hnsw.knn.tasks" -> "count", "hnsw.knn.driver_gap_ms" -> "ms",
    "hnsw.knn.merge_overfetch" -> "ratio", "hnsw.save.mb" -> "MB",
    "inc.process.ms" -> "ms", "inc.process.jobs" -> "count", "inc.process.exec_cpu_ms" -> "ms",
    "inc.knn.ms" -> "ms", "inc.knn.jobs" -> "count",
    "functions.cosine_sim.ns_per_pair" -> "ns",
    "exact.exec_ms" -> "ms", "exact.pairs_per_cpu_s" -> "1/s", "exact.shuffle_bytes" -> "bytes",
    "exact.spill_bytes" -> "bytes",
    "bm25.call_ms" -> "ms", "bm25.exec_ms" -> "ms", "bm25.jobs" -> "count", "bm25.stages" -> "count",
    "bm25.driver_gap_ms" -> "ms", "bm25.rows_scanned_per_result" -> "ratio",
    "text.append.ms" -> "ms", "text.append.jobs" -> "count", "text.append.bytes_written" -> "bytes",
    "text.append.files_written" -> "count", "text.index.files_total" -> "count",
    "spark.exec_run_ms" -> "ms", "spark.exec_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.sched_delay_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.cpu_wall_ratio" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.heap_peak_mb" -> "MB")

  def perLayer(ctx: Ctx, o: Outcome): Map[String, Double] = {
    val windowStartMs = o.windowStartMs
    val tr = ctx.tracer.get
    def med(kind: String, inWindow: Boolean = true)(f: OpTrace => Double): Double = {
      val xs = tr.of(kind).filter(t => !inWindow || t.startMs >= windowStartMs)
      if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
    }
    val window = Seq("hnsw.knn", "inc.knn", "exact", "bm25", "inc.process", "text.append")
      .flatMap(tr.of).filter(_.startMs >= windowStartMs)
    def spark(f: SparkCounters => Double): Double =
      if (window.isEmpty) 0.0 else Stats.median(window.map(t => f(t.spark)))
    val fromTrace = Map(
      "hnsw.fit.ms" -> med("hnsw.fit", inWindow = false)(_.wallMs),
      "hnsw.fit.exec_cpu_ms" -> med("hnsw.fit", inWindow = false)(_.spark.cpuNs / 1e6),
      "hnsw.fit.shuffle_write_bytes" -> med("hnsw.fit", inWindow = false)(_.spark.shuffleWriteBytes.toDouble),
      "hnsw.fit.task_skew" -> med("hnsw.fit", inWindow = false)(_.spark.taskSkew),
      "hnsw.knn.call_ms" -> med("hnsw.knn")(_.callMs),
      "hnsw.knn.exec_ms" -> med("hnsw.knn")(_.execMs),
      "hnsw.knn.jobs" -> med("hnsw.knn")(_.spark.jobs.toDouble),
      "hnsw.knn.stages" -> med("hnsw.knn")(_.spark.stages.toDouble),
      "hnsw.knn.tasks" -> med("hnsw.knn")(_.spark.tasks.toDouble),
      "hnsw.knn.driver_gap_ms" -> med("hnsw.knn")(_.driverGapMs),
      "hnsw.knn.merge_overfetch" -> med("hnsw.knn")(t =>
        t.spark.shuffleWriteRecords.toDouble / math.max(1L, t.rows)),
      "inc.process.ms" -> med("inc.process")(_.wallMs),
      "inc.process.jobs" -> med("inc.process")(_.spark.jobs.toDouble),
      "inc.process.exec_cpu_ms" -> med("inc.process")(_.spark.cpuNs / 1e6),
      "inc.knn.ms" -> med("inc.knn")(_.wallMs),
      "inc.knn.jobs" -> med("inc.knn")(_.spark.jobs.toDouble),
      "exact.exec_ms" -> med("exact")(_.execMs),
      "exact.pairs_per_cpu_s" -> med("exact")(t =>
        t.extra.getOrElse("pairs", 0.0) / math.max(1e-9, t.spark.cpuNs / 1e9)),
      "exact.shuffle_bytes" -> med("exact")(_.spark.shuffleWriteBytes.toDouble),
      "exact.spill_bytes" -> med("exact")(_.spark.spillBytes.toDouble),
      "bm25.call_ms" -> med("bm25")(_.callMs),
      "bm25.exec_ms" -> med("bm25")(_.execMs),
      "bm25.jobs" -> med("bm25")(_.spark.jobs.toDouble),
      "bm25.stages" -> med("bm25")(_.spark.stages.toDouble),
      "bm25.driver_gap_ms" -> med("bm25")(_.driverGapMs),
      "bm25.rows_scanned_per_result" -> med("bm25")(t =>
        t.spark.inputRecords.toDouble / math.max(1L, t.rows)),
      "text.append.ms" -> med("text.append")(_.wallMs),
      "text.append.jobs" -> med("text.append")(_.spark.jobs.toDouble),
      "text.append.bytes_written" -> med("text.append")(_.spark.outputBytes.toDouble),
      "spark.exec_run_ms" -> spark(_.runMs.toDouble),
      "spark.exec_cpu_ms" -> spark(_.cpuNs / 1e6),
      "spark.gc_ms" -> spark(_.gcMs.toDouble),
      "spark.sched_delay_ms" -> spark(_.schedDelayMs.toDouble),
      "spark.shuffle_read_bytes" -> spark(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> spark(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> spark(_.spillBytes.toDouble),
      "spark.cpu_wall_ratio" -> spark(c => if (c.runMs == 0) 0.0 else c.cpuNs / 1e6 / c.runMs),
      "jvm.gc_ms" -> Jvm.gcMs, "jvm.jit_ms" -> Jvm.jitMs, "jvm.heap_peak_mb" -> tr.heapPeakMb)
    PerLayer.map { case (name, _) =>
      name -> o.layers.getOrElse(name, fromTrace.getOrElse(name, 0.0))
    }.toMap
  }
}
