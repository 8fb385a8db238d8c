package perfbench

/** Percentiles and interval arithmetic used for every reported number. */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between closest ranks
    * (numpy's default, Hyndman-Fan type 7). NaN for no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Median of the last quarter of a series over the median of its first
    * quarter (at least one sample each): how much later operations slowed.
    */
  def growth(series: Seq[Double]): Double = {
    val q = math.max(1, series.size / 4)
    median(series.takeRight(q)) / median(series.take(q))
  }

  /** Total length covered by a set of intervals, each clipped to
    * `[from, to]`; overlaps count once.
    */
  def unionLength(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of an interval: its length minus the part its children
    * cover.
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(children, start, end)
}
