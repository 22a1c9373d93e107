package perfbench

import java.util.Locale

/** JSON rendering that does not depend on the JVM's default locale: a
  * number is written from its exact decimal expansion, never through a
  * locale-sensitive formatter, so a `de` or `fr` JVM still prints `1.5`.
  */
object Json {
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    val s = java.math.BigDecimal.valueOf(d).toPlainString
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Fixed-decimals rendering for the human-readable report lines. */
  def fixed(d: Double, decimals: Int): String =
    s"%.${decimals}f".formatLocal(Locale.ROOT, d)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that leaves at least ten samples above it —
    * the order statistic eleventh from the top — with that percentile.
    * Below twenty samples that percentile would not reach the median, so
    * the maximum is reported instead, as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (100.0, xs.max)
    else (100.0 * (n - 10) / n, xs.sorted.apply(n - 11))
  }
}
