package perfbench

/** Summary statistics used for every reported metric. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Cut points dividing the samples into `n` groups, by the same
    * "exclusive" rule as Python's `statistics.quantiles(xs, n=n)`, so
    * quartiles in the run record match those a Python reader computes.
    */
  def quantiles(xs: Seq[Double], n: Int = 4): Seq[Double] = {
    require(n >= 1 && xs.nonEmpty, "quantiles need n >= 1 and a sample")
    val d = xs.sorted
    val ld = d.length
    if (ld == 1) return Seq.fill(n - 1)(d.head)
    val m = ld + 1
    (1 until n).map { i =>
      val j = math.min(math.max(i * m / n, 1), ld - 1)
      val delta = i * m - j * n
      (d(j - 1) * (n - delta) + d(j) * delta) / n
    }
  }

  /** F1 of the positive class; 1.0 when there is nothing to find and
    * nothing was claimed.
    */
  def f1(tp: Long, fp: Long, fn: Long): Double = {
    val d = 2 * tp + fp + fn
    if (d == 0) 1.0 else 2.0 * tp / d
  }
}
