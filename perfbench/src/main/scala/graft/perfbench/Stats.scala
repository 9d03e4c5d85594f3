package graft.perfbench

/** Order statistics shared by every workload. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the nearest-rank percentile `p`. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val s = xs.sorted
    xs.length - math.min(s.length, math.max(1, math.ceil(p / 100.0 * s.length).toInt))
  }

  /** The percentile is reported only when at least `minBeyond` samples
    * lie beyond its rank; otherwise there are too few to place it. */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs, p) >= minBeyond) Some(percentile(xs, p)) else None
}
