package graftperf

/** Order statistics and interval arithmetic behind every reported number. */
object Stats {

  /** Nearest-rank-floor percentile, `sorted(floor(p * (n - 1)))` — the
    * convention of `graft.functions.FloorPercentiles`. */
  def floorPct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val s = xs.toArray.sorted
    s(math.floor(p * (s.length - 1)).toInt)
  }

  def median(xs: Seq[Double]): Double = floorPct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    xs.sum / xs.length
  }

  /** How many of `n` samples lie strictly beyond the floor-p rank. */
  def beyond(n: Int, p: Double): Int =
    if (n == 0) 0 else n - 1 - math.floor(p * (n - 1)).toInt

  /** Length of `[start, end]` not covered by any of the `busy` intervals
    * (clipped to the window; overlaps count once). With `busy` = the
    * Spark jobs of one operation this is the operation's driver gap:
    * wall time during which no job was running. */
  def uncovered(start: Long, end: Long, busy: Seq[(Long, Long)]): Long = {
    val clipped = busy
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => a < b }
      .sortBy(_._1)
    var covered = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd != Long.MinValue) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd != Long.MinValue) covered += curEnd - curStart
    math.max(0L, end - start) - covered
  }
}
