package perfbench

/** Order statistics for timings. Percentiles use the nearest-rank rule:
  * the p-th percentile of n samples is the ceil(p/100 * n)-th smallest.
  */
object Stats {

  /** 1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990. */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Number of samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A reported tail percentile needs at least this many samples beyond it. */
  val MinBeyond = 10

  /** The highest of the usual reporting percentiles that still has at
    * least `MinBeyond` samples beyond it, or None when even the median
    * has fewer (a timing is then reported by its median alone).
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => beyond(n, p) >= MinBeyond)
}
