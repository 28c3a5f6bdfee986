package graft.perfbench

/** The benchmark's own arithmetic: order statistics, interval unions and
  * span self time. Pure functions, covered by `StatsSpec`. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest of `candidates` that leaves at least `minBeyond` samples
    * beyond it — a tail percentile is only reported when it is measured,
    * not extrapolated. None when even the lowest candidate is unsupported. */
  def supportedPercentile(n: Int, candidates: Seq[Double] = Seq(99.0, 90.0, 75.0, 50.0),
                          minBeyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => samplesBeyond(n, p) >= minBeyond)

  /** Total length covered by possibly-overlapping half-open intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** Time inside `[start, end]` not covered by any of `children` (clipped
    * to the parent). For a module call whose children are its Spark jobs,
    * this is the call's driver-side time. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Failed operations (errors plus wrong results) over operations attempted. */
  def failedShare(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "no operation attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed outside [0, $attempted]")
    failed.toDouble / attempted
  }
}
