package perfbench

/** Order statistics over timing samples. Every summary carries its sample
  * count. */
object Stats {

  final case class Summary(n: Int, median: Double, p25: Double, p75: Double) {
    def fields: Seq[(String, Any)] =
      Seq("n" -> n, "median" -> median, "p25" -> p25, "p75" -> p75)
  }

  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(samples: Seq[Double], q: Double): Double = {
    require(samples.nonEmpty, "quantile of no samples")
    val s = samples.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(samples: Seq[Double]): Double = quantile(samples, 0.5)

  def summary(samples: Seq[Double]): Summary =
    Summary(samples.length, median(samples), quantile(samples, 0.25),
      quantile(samples, 0.75))
}
