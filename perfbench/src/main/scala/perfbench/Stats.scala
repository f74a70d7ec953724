package perfbench

/** Order statistics with the benchmark's sample-size rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so a
  * p90 needs 100 samples and a median 20.
  */
object Stats {
  val MinBeyond = 10

  /** Samples strictly above the nearest-rank `q` percentile of `n`. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  def supports(n: Int, q: Double): Boolean = beyond(n, q) >= MinBeyond

  /** Nearest-rank percentile; throws when the sample cannot support it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(supports(xs.size, q),
      f"p${q * 100}%.0f needs $MinBeyond samples beyond it; got ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Median without the sample rule (set-up repeats, per-layer figures). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** [[percentile]] when the sample supports it, else the sample maximum. */
  def percentileOr(xs: Seq[Double], q: Double): Double =
    if (supports(xs.size, q)) percentile(xs, q) else if (xs.isEmpty) 0.0 else xs.max

  def medianOr(xs: Seq[Double], default: Double): Double =
    if (xs.isEmpty) default else median(xs)
}
