package perfbench

/** Minimal JSON rendering for the benchmark's own output files. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => value(r.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => s"${str(k)}:${value(x)}" }.mkString("{", ",", "}")
}
