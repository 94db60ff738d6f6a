package perfbench

/** The benchmark's own arithmetic: percentiles, medians, and the union
  * of time intervals. Kept free of Spark so the unit tests run in
  * milliseconds.
  */
object Stats {

  /** A p90 needs this many samples of its class, or it is not reported. */
  val MinP90Samples = 100

  /** Nearest-rank percentile, `p` in (0, 100]: the smallest sample with
    * at least p% of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The p90 of a class, only when the class has enough samples. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= MinP90Samples) Some(percentile(xs, 90)) else None

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
