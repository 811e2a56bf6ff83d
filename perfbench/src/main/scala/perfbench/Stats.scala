package perfbench

/** Order statistics with the benchmark's sample-count rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie strictly above its
  * rank, so a p99 needs 1000 samples, a p90 100 and a median 20. */
object Stats {

  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` (q in (0, 1]): the smallest sample such
    * that at least q·n samples are ≤ it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, q) - 1)
  }

  /** 1-based nearest rank of percentile q among n samples. */
  def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  /** Samples strictly above the q-percentile's rank. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** Whether n samples support reporting the q-percentile. */
  def supported(n: Int, q: Double): Boolean = n > 0 && beyond(n, q) >= MinBeyond

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** A percentile together with the sample count behind it; `value` is NaN
    * when the count does not support it. */
  final case class Pct(value: Double, n: Int, q: Double) {
    def ok: Boolean = !value.isNaN
  }

  def pct(xs: Seq[Double], q: Double): Pct =
    if (supported(xs.size, q)) Pct(percentile(xs, q), xs.size, q)
    else Pct(Double.NaN, xs.size, q)
}
