package perfbench

/** Just enough JSON to hand raw measurements to the Python side. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def value(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case i: Int            => i.toString
    case l: Long           => l.toString
    case d: Double         => num(d)
    case o: Option[_]      => o.map(value).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(value).mkString("[", ",", "]")
    case other             => str(other.toString)
  }

  /** An insertion-ordered object, so dumps stay readable. */
  def obj(kv: (String, Any)*): scala.collection.Map[String, Any] =
    scala.collection.mutable.LinkedHashMap(kv: _*)
}
