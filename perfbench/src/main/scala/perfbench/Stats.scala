package perfbench

/** Order statistics used for every reported figure. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First, second and third quartile with the "exclusive" method of
    * Python's `statistics.quantiles(xs, n=4)`, so figures computed here
    * and by a reader with Python agree.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no values")
    val d = xs.sorted.toIndexedSeq
    val ld = d.size
    if (ld == 1) return (d(0), d(0), d(0))
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }
}
