package graft.perfbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `q` of
    * all samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile $q outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Samples strictly beyond the `q` nearest-rank position. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** A percentile is reported only when at least ten samples lie beyond
    * it, so one slow sample cannot set it.
    */
  def reportable(n: Int, q: Double): Boolean = beyond(n, q) >= 10
}
