package perfbench

/** Order statistics with the benchmark's sample-size rule: a tail
  * percentile is reported only when at least [[MinBeyond]] samples lie
  * beyond it, so a p97 never rests on a handful of points. */
object Stats {
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank q-th percentile position. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** A tail percentile, or the reason it may not be reported. */
  def tail(xs: Seq[Double], q: Double): Either[String, Double] = {
    val b = beyond(xs.size, q)
    if (b >= MinBeyond) Right(pct(xs, q))
    else Left(f"p${q * 100}%.0f needs $MinBeyond samples beyond it, " +
      s"has $b of ${xs.size}")
  }
}
