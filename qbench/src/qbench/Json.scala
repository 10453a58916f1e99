package qbench

/** Minimal JSON rendering for result lines and span files. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case fs: Seq[_] => obj(fs.asInstanceOf[Seq[(String, Any)]])
    case other => throw new IllegalArgumentException(s"no JSON form: $other")
  }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
