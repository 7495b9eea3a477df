package graftperf

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Attempted / succeeded / failed operations of one kind. */
final class OpCount { var attempted = 0; var ok = 0; var failed = 0 }

/** The run's session, clock, checks and (in a traced run) tracer. Every
  * call into the engine goes through [[op]], one at a time from the
  * single client thread: the closed loop. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: String, traced: Boolean) {
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  val counts = mutable.LinkedHashMap.empty[String, OpCount]
  /** wall ms of the timed (in-window) operations, by kind */
  val wall = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** CPU ms ([[ProcCpu]]) of the timed operations, by kind */
  val cpu = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var cpuUntaken = 0.0

  /** CPU ms of the timed operations since the last call. */
  def takeCpu(): Double = { val c = cpuUntaken; cpuUntaken = 0.0; c }

  /** Runs one operation: `call` invokes the API (timed as the call part),
    * `exec` materialises what it returned (the exec part), `check` then
    * validates the result untimed and returns an error message if it is
    * wrong. `extra` rides along on the operation's trace. An exception or a failed check counts the operation as
    * failed; the result is None then. `timed` operations add their wall
    * time and their CPU time to the window's samples. */
  def op[A, B](kind: String, timed: Boolean = true, rows: B => Long = (_: B) => 0L,
      extra: Map[String, Double] = Map.empty)(
      call: => A)(exec: A => B)(check: B => Option[String]): Option[(B, Double)] = {
    val c = counts.getOrElseUpdate(kind, new OpCount)
    c.attempted += 1
    tracer.foreach(_.begin())
    val cpu0 = ProcCpu.snapshot()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try {
      val a = call
      val t1 = System.nanoTime()
      val b = exec(a)
      val t2 = System.nanoTime()
      Right((b, (t1 - t0) / 1e6, (t2 - t1) / 1e6))
    } catch { case e: Exception => Left(e) }
    val endMs = System.currentTimeMillis()
    val cpuMs = ProcCpu.msSince(cpu0)
    result match {
      case Left(e) =>
        c.failed += 1
        System.err.println(s"graft-perf: $kind failed: $e")
        None
      case Right((b, callMs, execMs)) =>
        tracer.foreach(_.end(kind, startMs, endMs, callMs, execMs, rows(b), extra))
        check(b) match {
          case Some(msg) =>
            c.failed += 1
            System.err.println(s"graft-perf: $kind returned a wrong result: $msg")
            None
          case None =>
            c.ok += 1
            if (timed) {
              wall.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += callMs + execMs
              cpu.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += cpuMs
              cpuUntaken += cpuMs
            }
            Some((b, callMs + execMs))
        }
    }
  }

  /** Records a check that is not tied to one timed operation. */
  def verify(kind: String)(msg: Option[String]): Unit = {
    val c = counts.getOrElseUpdate(kind, new OpCount)
    c.attempted += 1
    msg match {
      case Some(m) => c.failed += 1; System.err.println(s"graft-perf: $kind: $m")
      case None => c.ok += 1
    }
  }

  def attempted: Int = counts.values.map(_.attempted).sum
  def failed: Int = counts.values.map(_.failed).sum

  def vectorsDf(ids: Array[Long], vs: Array[Array[Float]], idCol: String, vecCol: String): DataFrame = {
    import spark.implicits._
    ids.toSeq.zip(vs.toSeq).toDF(idCol, vecCol)
  }

  def termsDf(queries: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }.toDF("qid", "term")
  }

  def docsDf(ids: Seq[Long], texts: Seq[String]): DataFrame = {
    import spark.implicits._
    ids.zip(texts).toDF("doc_id", "text")
  }
}

object Ctx {
  /** One local session: `local[cores]`, the engine's extensions, AQE on,
    * and every file it writes under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perf")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** kNN result rows (query_id, neighbor_id, score, rank) grouped by
    * query, in rank order. */
  def knnRows(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[(Long, Double, Int)]] =
    rows.toSeq.map(r => (r.getAs[Long]("query_id"),
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"), r.getAs[Int]("rank"))))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sortBy(_._3) }

  /** The shape every kNN answer must have: exactly `k` rows per query,
    * ranked 1..k, by non-increasing score, with distinct neighbours. */
  def knnShape(got: Map[Long, Seq[(Long, Double, Int)]], qids: Seq[Long], k: Int): Option[String] = {
    val missing = qids.filterNot(got.contains)
    if (missing.nonEmpty) return Some(s"no rows for queries ${missing.take(5).mkString(",")}")
    if (got.size != qids.distinct.size) return Some(s"rows for ${got.size} queries, asked ${qids.distinct.size}")
    got.collectFirst {
      case (q, xs) if xs.map(_._3) != (1 to k) => s"query $q ranks ${xs.map(_._3).mkString(",")}"
      case (q, xs) if xs.map(_._1).distinct.size != k => s"query $q repeats a neighbour"
      case (q, xs) if xs.sliding(2).exists(p => p.size == 2 && p(0)._2 < p(1)._2) =>
        s"query $q scores not ranked"
    }
  }
}
