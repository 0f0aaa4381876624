package perfbench

import scala.collection.mutable

/** One reported number: `n` is the sample count it was computed from and
  * `level` the percentile it reports ("p50", "p90", ...; "" for a plain
  * value such as a count or a ratio). */
final case class Metric(name: String, value: Double, unit: String, n: Long,
    level: String = "")

/** Samples of one timed series. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized(xs += x)
  def values: Seq[Double] = synchronized(xs.toVector)
  def size: Int = synchronized(xs.size)
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "percentile of an empty series")
    val s = values.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 0.5)

  /** Highest standard tail level that still leaves at least ten samples
    * beyond it, or None when the series is too short for any tail. */
  def supportedTail(n: Int): Option[Double] =
    Seq(0.999, 0.99, 0.95, 0.9).find(q => n * (1 - q) >= 10 - 1e-9)

  def levelName(q: Double): String = {
    val p = q * 100
    if (p == math.rint(p)) f"p${p.toInt}" else s"p${BigDecimal(p).bigDecimal.stripTrailingZeros.toPlainString}"
  }

  /** A timing as the benchmark reports it: the median, plus the named
    * tail at its nominal level. The tail's sample support is the
    * reader's to judge from `n` (the supported level is in
    * [[tailNote]]). */
  def timing(prefix: String, values: Seq[Double], tail: Double): Seq[Metric] =
    if (values.isEmpty) Nil
    else Seq(
      Metric(s"${prefix}_p50_s", median(values), "s", values.size, "p50"),
      Metric(s"${prefix}_${levelName(tail)}_s", percentile(values, tail), "s",
        values.size, levelName(tail)))

  def tailNote(n: Int): String =
    supportedTail(n).map(q => s"highest supported tail ${levelName(q)}")
      .getOrElse("no tail level has 10 samples beyond it")
}

/** Minimal JSON writer (maps keep insertion order). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
