package perfbench

/** Order statistics and interval arithmetic shared by the timed and
  * the traced runs. Kept free of Spark so `SelfTest` can pin it down.
  */
object Stats {

  /** Samples that must lie strictly beyond a reported tail value. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest order statistic that still has at least
    * `beyond` samples above it in sorted order, with its percentile
    * (nearest rank: the share of samples at or below it, in percent).
    * None when there are `beyond` samples or fewer.
    */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val i = n - 1 - beyond
      Some((xs.sorted.apply(i), 100.0 * (i + 1) / n))
    }
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of `span` not covered by any of `children`, each clipped
    * to the span first: a span's self time.
    */
  def uncovered(span: (Double, Double), children: Seq[(Double, Double)]): Double = {
    val (s, e) = span
    val clipped = children.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    (e - s) - unionLength(clipped)
  }

  /** Metric names accepted by the result line: a letter or digit
    * first, then at most 63 more of letters, digits, `_`, `.`, `-`.
    */
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(n: String): Boolean = NamePattern.matches(n)
}
