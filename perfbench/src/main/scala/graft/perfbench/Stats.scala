package graft.perfbench

/** Order statistics under the benchmark's sample-count rules. */
object Stats {
  /** Nearest-rank `p` percentile (0 < p < 1) of `xs`, refused (None) when
    * fewer than `minBeyond` samples lie above its rank: a p90 rests on at
    * least ten slower samples, so it needs 100 samples. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    val n = xs.size
    val rank = math.ceil(p * n).toInt // 1-based
    if (n == 0 || n - rank < minBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Median (mean of the middle pair for an even count), refused (None)
    * below `minSamples` samples. */
  def median(xs: Seq[Double], minSamples: Int = 1): Option[Double] = {
    val n = xs.size
    if (n == 0 || n < minSamples) None
    else {
      val s = xs.sorted
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }
  }

  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)
}
