package perfbench

/** Order statistics over unit times. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOr0(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else median(xs)
}
