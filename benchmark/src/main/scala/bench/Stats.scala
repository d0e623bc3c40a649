package bench

/** Order statistics used by every workload's end-to-end metrics. */
object Stats {

  /** Median, averaging the two middle values of an even-sized sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail reading of a latency sample: the highest percentile that
    * still has at least `beyond` samples above it, as (percentile,
    * value). Below `2 * beyond + 1` samples that percentile would sit
    * at or below the median, so the sample maximum is reported instead
    * (percentile 100).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n < 2 * beyond + 1) (100.0, s.last)
    else (100.0 * (n - beyond) / n, s(n - beyond - 1))
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a JSON number: $d")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
