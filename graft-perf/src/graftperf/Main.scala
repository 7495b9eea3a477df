package graftperf

/** One benchmark run of one workload:
  * `graftperf.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * The last line of standard output is the result:
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {..}}` with
  * every end-to-end metric (`--trace 0`) or every per-layer metric
  * (`--trace 1`). A run report (contention, operation counts, sample
  * counts) goes to standard error; a traced run also writes its spans to
  * `<work>/spans.json`. Exits 1 when any operation failed or returned a
  * wrong result. */
object Main {
  val Workloads: Map[String, (Ctx, Inputs, Long, Double) => Workload.Outcome] = Map(
    "point_serve" -> PointServe.run,
    "ingest_mixed" -> IngestMixed.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = need("workload")
    val run = Workloads.getOrElse(name, {
      System.err.println(s"unknown workload $name; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")

    val nproc = Runtime.getRuntime.availableProcessors()
    // half the cores run tasks; the rest are for the driver's planning,
    // JIT compilation and GC, which otherwise take turns with the tasks
    // and add run-to-run spread
    val cores = math.max(1, math.min(4, nproc / 2))
    val loadStart = Jvm.load1
    val ticksStart = Host.ticks()
    val spark = Ctx.session(cores, work)
    val ctx = new Ctx(spark, cores, work, traced)
    val outcome = try run(ctx, new Inputs(seed), seed, seconds) catch {
      case e: Throwable =>
        System.err.println(s"graft-perf: $name aborted: $e")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    val loadEnd = Jvm.load1
    val steal = Host.stealShare(ticksStart, Host.ticks())
    val metrics =
      if (traced) Workload.PerLayer.map { case (m, u) => m -> (Workload.perLayer(ctx, outcome)(m), u) }
      else Workload.EndToEnd.map { case (m, u) => m -> (Workload.endToEnd(ctx, outcome)(m), u) }
    ctx.tracer.foreach { t =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(work, "spans.json"), t.spansJson)
    }
    spark.stop()

    val free = nproc - cores
    val report = Json.obj(Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "nproc" -> nproc, "local_cores" -> cores, "load1_start" -> loadStart, "load1_end" -> loadEnd,
      // load above the cores this run left free means other work competed for ours
      "contended" -> (math.max(loadStart, loadEnd - cores) > free),
      // share of the vCPUs' time the hypervisor gave to other guests
      "host_steal" -> steal,
      "heap_init_mb" -> Jvm.heapInitMb, "heap_max_mb" -> Jvm.heapMaxMb,
      "steps" -> outcome.stepsMs.length,
      "samples" -> ctx.wall.map { case (k, xs) =>
        val pct = Seq(0.99, 0.95, 0.9, 0.5).find(p => Stats.beyond(xs.length, p) >= 10)
        val cpu = ctx.cpu(k).toSeq
        k -> Json.Raw(Json.obj(Seq("n" -> xs.length, "p50_ms" -> Stats.median(xs.toSeq)) ++
          pct.map(p => s"p${(p * 100).round}_ms" -> Stats.floorPct(xs.toSeq, p)) ++
          Seq("cpu_p50_ms" -> Stats.median(cpu), "ms" -> xs.map(x => math.rint(x * 10) / 10).toSeq,
            "cpu_ms" -> cpu.map(x => math.rint(x * 10) / 10))))
      }.toMap,
      "ops" -> ctx.counts.map { case (k, c) =>
        k -> Json.Raw(Json.obj(Seq("attempted" -> c.attempted, "succeeded" -> c.ok, "failed" -> c.failed)))
      }.toMap,
      "end_to_end" -> Workload.endToEnd(ctx, outcome),
      "wall" -> Workload.wallP50(ctx, outcome)))
    System.err.println(s"graft-perf report: $report")

    val failed = ctx.failed
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> ctx.attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (m, (v, u)) =>
        m -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
    sys.exit(if (failed == 0) 0 else 1)
  }
}
