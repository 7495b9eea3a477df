package graftperf

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What the Spark listener saw during one operation. */
final class SparkCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** executor run time of each task, by stage */
  val taskRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task run time in the stage that ran longest in total. */
  def taskSkew: Double =
    if (taskRunMs.isEmpty) 1.0
    else {
      val ts = taskRunMs.values.maxBy(_.sum).map(_.toDouble)
      val med = Stats.median(ts.toSeq)
      if (med <= 0) 1.0 else ts.max / med
    }
}

/** Accumulates listener events into the current operation's counters. */
final class Recorder extends SparkListener {
  private var cur = new SparkCounters
  private val jobStart = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cur.tasks += 1
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      cur.spillBytes += m.diskBytesSpilled
      cur.inputRecords += m.inputMetrics.recordsRead
      cur.outputBytes += m.outputMetrics.bytesWritten
      cur.taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def take(): SparkCounters = synchronized { val c = cur; cur = new SparkCounters; c }
}

/** One traced operation: a span with two children, `call` (until the API
  * returns) and `exec` (materialising its result), plus the Spark
  * counters of the jobs it ran. */
final case class OpTrace(kind: String, startMs: Long, endMs: Long, callMs: Double,
    execMs: Double, rows: Long, spark: SparkCounters, extra: Map[String, Double]) {
  def wallMs: Double = callMs + execMs
  def driverGapMs: Double = Stats.uncovered(startMs, endMs, spark.jobIntervals.toSeq).toDouble
}

/** Spans and listener counters of a traced run, kept in memory and
  * written out when the run ends. Each operation drains the listener bus
  * before and after it, so events land on the operation that caused them. */
final class Tracer(spark: SparkSession) {
  private val rec = new Recorder
  spark.sparkContext.addSparkListener(rec)
  val ops = mutable.ArrayBuffer.empty[OpTrace]
  /** the largest heap use seen at the end of an operation */
  var heapPeakMb = 0.0

  private def drain(): Unit = org.apache.spark.GraftPerfBus.drain(spark.sparkContext)

  def begin(): Unit = { drain(); rec.take(); () }

  def end(kind: String, startMs: Long, endMs: Long, callMs: Double, execMs: Double,
      rows: Long, extra: Map[String, Double] = Map.empty): OpTrace = {
    drain()
    val t = OpTrace(kind, startMs, endMs, callMs, execMs, rows, rec.take(), extra)
    ops += t
    heapPeakMb = math.max(heapPeakMb, Jvm.heapUsedMb)
    t
  }

  def of(kind: String): Seq[OpTrace] = ops.filter(_.kind == kind).toSeq

  def spansJson: String = ops.zipWithIndex.map { case (o, i) =>
    Json.obj(Seq("id" -> i, "name" -> o.kind, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
      "call_ms" -> o.callMs, "exec_ms" -> o.execMs, "rows" -> o.rows, "jobs" -> o.spark.jobs,
      "stages" -> o.spark.stages, "tasks" -> o.spark.tasks, "exec_cpu_ms" -> o.spark.cpuNs / 1e6,
      "driver_gap_ms" -> o.driverGapMs))
  }.mkString("[", ",\n", "]")
}

/** Whole-JVM readings from the platform MXBeans. */
object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  def heapMaxMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
  def heapInitMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getInit / 1048576.0
  def load1: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** The vCPUs' tick counters from `/proc/stat`: (steal, all). Steal is
  * time a vCPU was ready to run while the hypervisor ran another guest. */
object Host {
  def ticks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    val cpu = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
  }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 == from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)
}

/** CPU time the process's threads have run, read per thread from Linux's
  * `/proc/self/task/<tid>/schedstat` (nanoseconds). With paravirtual
  * steal accounting, as on KVM guests, that count leaves out the time
  * the hypervisor gave the vCPU to another guest, which a wall clock
  * includes. The JIT compiler threads are left out: what they do depends
  * on how far this JVM has warmed up, not on the operation. */
object ProcCpu {
  private val tasks = java.nio.file.Paths.get("/proc/self/task")
  private val jitByTid = mutable.HashMap.empty[String, Boolean]

  private def read(p: java.nio.file.Path): Option[String] =
    try Some(java.nio.file.Files.readString(p))
    catch { case _: java.io.IOException => None }

  /** Thread id to CPU ns, for every live thread but the JIT's. */
  def snapshot(): Map[String, Long] = {
    val tids = Option(tasks.toFile.list()).getOrElse(
      sys.error("no /proc/self/task: per-thread CPU needs Linux"))
    tids.iterator.filterNot { tid =>
      jitByTid.getOrElseUpdate(tid, read(tasks.resolve(tid).resolve("comm")).exists(isJit))
    }.flatMap(tid => read(tasks.resolve(tid).resolve("schedstat")).map(st => tid -> st.split(' ')(0).toLong))
      .toMap
  }

  def isJit(comm: String): Boolean =
    comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre") ||
      comm.startsWith("Sweeper thread")

  /** CPU ms run since `before`, threads started since then included. */
  def msSince(before: Map[String, Long]): Double =
    snapshot().iterator.map { case (tid, ns) => ns - before.getOrElse(tid, 0L) }.sum / 1e6
}
