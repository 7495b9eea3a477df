package graftperf

import scala.collection.mutable.ArrayBuffer

/** Self-tests of the benchmark's own arithmetic; no Spark session.
  * Run with `python3 graft-perf/run.py --selftest`; exits 1 on a failure. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    driverGap()
    bm25Reference()
    recall()
    knnShape()
    windowSteps()
    println(s"graft-perf self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** The window is a fixed step count derived from `--seconds`. */
  def windowSteps(): Unit = {
    check("16 s of 1.2 s steps is 13 steps")(Workload.stepsFor(16, 1.2, least = 4) == 13)
    check("a short window still runs the least count")(Workload.stepsFor(1, 1.2, least = 4) == 4)
    check("16 s of 9 s epochs is the least 3")(Workload.stepsFor(16, 9.0, least = 3) == 3)
    var calls = 0
    var cpu = 0.0
    def taken(): Double = { val c = cpu; cpu = 0.0; c }
    val got = Workload.window(4, () => taken()) { i =>
      calls += 1; cpu += 10 * i; Option.when(i != 2)(i.toDouble)
    }
    check("window runs every step and keeps the ones that succeeded, with their CPU")(
      calls == 4 && got == Seq((0.0, 0.0), (1.0, 10.0), (3.0, 30.0)))
    check("JIT compiler threads are told apart")(
      ProcCpu.isJit("C2 CompilerThre") && ProcCpu.isJit("C1 CompilerThre") && !ProcCpu.isJit("main"))
  }

  /** Floor-convention percentiles agree with the engine's aggregate. */
  def percentiles(): Unit = {
    val r = new scala.util.Random(7)
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 0.95, 0.99, 1.0)
    for (n <- Seq(1, 2, 3, 10, 11, 101, 1000)) {
      val xs = Seq.fill(n)(r.nextDouble() * 100)
      val engine = new graft.functions.FloorPercentiles(ps).finish(ArrayBuffer(xs: _*))
      check(s"floorPct matches FloorPercentiles, n=$n")(ps.map(Stats.floorPct(xs, _)) == engine)
    }
    check("floorPct median of 1..4 is 2")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    check("mean of 1, 2, 6 is 3")(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
    check("p90 of 101 samples has 10 beyond it")(Stats.beyond(101, 0.9) == 10)
    check("p90 of 91 samples has 9 beyond it")(Stats.beyond(91, 0.9) == 9)
    check("p50 of 21 samples has 10 beyond it")(Stats.beyond(21, 0.5) == 10)
  }

  /** Driver gap: window time covered by no job, overlaps counted once. */
  def driverGap(): Unit = {
    check("no jobs: the whole window is gap")(Stats.uncovered(0, 100, Nil) == 100)
    check("one job inside")(Stats.uncovered(0, 100, Seq((10L, 30L))) == 80)
    check("overlapping jobs count once")(
      Stats.uncovered(0, 100, Seq((10L, 40L), (20L, 50L), (45L, 60L))) == 50)
    check("nested and touching jobs")(
      Stats.uncovered(0, 100, Seq((10L, 90L), (20L, 30L), (90L, 95L))) == 15)
    check("jobs clipped to the window")(
      Stats.uncovered(50, 100, Seq((0L, 60L), (95L, 200L), (300L, 400L))) == 35)
    check("unsorted input")(Stats.uncovered(0, 10, Seq((6L, 8L), (1L, 2L))) == 7)
  }

  /** BM25 on three docs, worked by hand: N = 3, avgdl = 3, both query
    * terms have df = 2, so idf = ln(1 + 1.5 / 2.5) = ln 1.6. */
  def bm25Reference(): Unit = {
    val ref = new Bm25Ref(Set("a", "c"))
    ref.add(1L, "a b a") // dl 3
    ref.add(2L, "b c") // dl 2
    ref.add(3L, "a c c c") // dl 4
    // a in d1: tf 2 → ln1.6·2·2.2 / (2 + 1.2·(0.25 + 0.75·3/3)) = 0.64625…
    // a in d3: tf 1 → ln1.6·2.2 / (1 + 1.2·(0.25 + 0.75·4/3)) = 0.41360…
    check("bm25 single term")(ref.topK(Seq("a"), 10) == Seq((1L, 0.6463), (3L, 0.4136)))
    // c in d2: ln1.6·2.2 / 1.9 = 0.54421…; c in d3: ln1.6·3·2.2 / 4.5 = 0.68934…
    check("bm25 two terms sum per doc")(
      ref.topK(Seq("a", "c"), 10) == Seq((3L, 1.1029), (1L, 0.6463), (2L, 0.5442)))
    check("bm25 repeated query term counts once")(
      ref.topK(Seq("c", "c"), 10) == ref.topK(Seq("c"), 10))
    check("bm25 top-k truncates")(ref.topK(Seq("a", "c"), 2).map(_._1) == Seq(3L, 1L))
    check("round4 is floor(x·10^4 + 0.5) / 10^4")(
      Bm25Ref.round4(0.12345) == 0.1235 && Bm25Ref.round4(0.12344) == 0.1234)
  }

  /** Brute force and micro-averaged recall on a tiny fixture. */
  def recall(): Unit = {
    val base = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f), Array(-1f, 0f), Array(1f, 0f))
    val ids = Array(10L, 11L, 12L, 13L, 14L)
    // (1, 0.1): cosine 0.995 with ids 10 and 14 (tie → lower id first), then 12
    val top = BruteForce.topK(base, ids, Array(1f, 0.1f), 3)
    check("brute force order with id tie-break")(top.map(_._1).toSeq == Seq(10L, 14L, 12L))
    check("brute force scores are cosine")(math.abs(top(2)._2 - 1.1 / (math.sqrt(2) * math.sqrt(1.01))) < 1e-6)
    val truth = BruteForce.topKIds(base, ids, Array(Array(1f, 0.1f), Array(0f, 1f)), 2, 2)
    check("topKIds per query")(truth.map(_.toSeq).toSeq == Seq(Seq(10L, 14L), Seq(11L, 12L)))
    check("recall counts hits over all queries")(
      BruteForce.recall(Seq(Seq(10L, 12L), Seq(11L, 12L)), truth.toSeq.map(_.toSeq)) == 0.75)
    check("recall is 1 for the truth itself")(
      BruteForce.recall(truth.toSeq.map(_.toSeq), truth.toSeq.map(_.toSeq)) == 1.0)
  }

  /** Result-shape checks reject what a kNN operator must never return. */
  def knnShape(): Unit = {
    val good = Map(1L -> Seq((5L, 0.9, 1), (6L, 0.8, 2)))
    check("good shape passes")(Ctx.knnShape(good, Seq(1L), 2).isEmpty)
    check("missing query fails")(Ctx.knnShape(good, Seq(1L, 2L), 2).nonEmpty)
    check("short answer fails")(Ctx.knnShape(Map(1L -> Seq((5L, 0.9, 1))), Seq(1L), 2).nonEmpty)
    check("repeated neighbour fails")(
      Ctx.knnShape(Map(1L -> Seq((5L, 0.9, 1), (5L, 0.8, 2))), Seq(1L), 2).nonEmpty)
    check("unranked scores fail")(
      Ctx.knnShape(Map(1L -> Seq((5L, 0.7, 1), (6L, 0.8, 2))), Seq(1L), 2).nonEmpty)
  }
}
