package perfbench

/** Minimal JSON text for the files a run writes. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(text) => text
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Text that is already JSON. */
  final case class Raw(text: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def result(r: Main.Result): String = obj(Seq(
    "attempted" -> r.attempted,
    "failures" -> r.failures.toSeq,
    "metrics" -> r.metrics.toSeq.map { case (n, v, u) => obj(Seq("name" -> n, "value" -> v, "unit" -> u)) },
    "stamp" -> obj(r.stamp.toSeq),
    "oracle" -> r.oracle.toSeq.map { case (n, p, sql) => obj(Seq("name" -> n, "path" -> p, "sql" -> sql)) }
  )).text + "\n"
}
