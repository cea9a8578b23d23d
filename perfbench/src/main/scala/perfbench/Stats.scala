package perfbench

/** Order statistics over one run's samples. */
object Stats {

  /** Nearest-rank percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** The middle sample, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p99.9, p99, p95, p90 and p75 with at least ten samples
    * beyond it, as (percentile, value, samples). Needs at least forty
    * samples. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    val p = Seq(0.999, 0.99, 0.95, 0.9, 0.75).find(p => n - math.ceil(p * n).toInt >= 10)
      .getOrElse(throw new IllegalArgumentException(s"no tail in $n samples"))
    Tail(p * 100, pct(xs, p), n)
  }
}
