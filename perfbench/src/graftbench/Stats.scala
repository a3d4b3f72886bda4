package graftbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail: the highest percentile with at least `beyond` samples above
    * it, which is the (beyond+1)-th largest sample. Returns
    * (value, percentile in %, sample count); None with too few samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some((s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }
}
