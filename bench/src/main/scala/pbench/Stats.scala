package pbench

/** Order statistics over op samples.
  *
  * Percentiles interpolate linearly between the two nearest ranks (the
  * default of numpy and of R's type 7): the p-th percentile of n sorted
  * samples sits at 0-based position h = (n - 1) * p / 100. Interpolation
  * keeps a percentile of a few heterogeneous samples from jumping between
  * neighbouring values when their ranks swap.
  */
object Stats {

  /** 0-based position of the p-th percentile among n samples. */
  def position(n: Int, p: Double): Double = {
    require(n > 0, "no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    (n - 1) * p / 100.0
  }

  def percentile(samples: Seq[Double], p: Double): Double = {
    val xs = samples.sorted
    val h = position(xs.length, p)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, xs.length - 1)
    xs(lo) + (h - lo) * (xs(hi) - xs(lo))
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  /** Samples strictly above the p-th percentile's position: how many
    * observations lie in the tail the reported value bounds.
    */
  def beyond(n: Int, p: Double): Int = n - 1 - math.floor(position(n, p)).toInt

  /** The sample count behind the latency metrics, and the samples beyond
    * each reported percentile.
    */
  def counts(n: Int): Map[String, Int] =
    if (n == 0) Map("samples" -> 0)
    else scala.collection.immutable.ListMap("samples" -> n, "beyond_p50" -> beyond(n, 50),
      "beyond_p90" -> beyond(n, 90), "beyond_p99" -> beyond(n, 99))
}
