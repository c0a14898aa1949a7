package perfbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  /** Percentile by linear interpolation between the two nearest ranks:
    * with the samples sorted as x(0..n-1) and h = (n - 1) q, the value is
    * x(floor h) + (h - floor h) (x(floor h + 1) - x(floor h)), the rule of
    * numpy's default. `q` is in [0, 1]. Interpolating keeps a percentile
    * of a few samples that climb through a run (reads of a growing table)
    * from jumping a whole sample with a small shift in timing. */
  def percentile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 0.5)

  /** Length of the union of half-open intervals [start, end), each first
    * clipped to [lo, hi). Overlapping and touching intervals count once. */
  def unionLength(intervals: collection.Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }

  /** Least-squares slope of `ys` on `xs`; 0 when `xs` has no spread. */
  def slope(xs: collection.Seq[Double], ys: collection.Seq[Double]): Double = {
    require(xs.size == ys.size, "slope needs paired samples")
    if (xs.size < 2) 0.0
    else {
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      if (sxx == 0.0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }
}
