package perfbench

/** Minimal JSON writer. Numbers never pass through a locale: doubles are
  * rendered by `BigDecimal.toPlainString` (at most 6 decimals, the
  * microsecond resolution of every clock here), so a comma-decimal default
  * locale cannot turn `1234.5` into `1,234.5`. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else {
      val s = java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
