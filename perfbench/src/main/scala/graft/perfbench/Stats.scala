package graft.perfbench

/** Percentiles and the sample-count rule the benchmark reports by. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell–Davis estimate of the `p` quantile: a Beta-weighted mean of
    * every order statistic. On the few, unlike operations of one run it
    * does not jump when two neighbouring samples swap rank, which the
    * single order statistics behind [[percentile]] do. */
  def harrellDavis(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0.0 && p < 1.0, s"Harrell-Davis quantile $p outside (0, 1)")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, p * (n + 1), (1 - p) * (n + 1))
      s.indices.map { i =>
        s(i) * (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n))
      }.sum
    }
  }

  /** A percentile is backed by the sample when at least ten samples lie
    * beyond it: p90 needs 100 samples, p50 needs 20. */
  def backed(n: Int, p: Double): Boolean = n * (1.0 - p) >= 10.0 - 1e-9
}
