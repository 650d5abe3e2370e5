package perfbench

/** Minimal JSON rendering for the harness's records (no dependency). */
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

  def value(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean        => b.toString
    case n: Int            => n.toString
    case n: Long           => n.toString
    case Raw(s)            => s
    case m: Map[_, _]      => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]   => xs.map(value).mkString("[", ",", "]")
    case other             => str(other.toString)
  }

  /** An already-rendered JSON fragment. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Parses a flat object of string/number values (the harness's own
    * `_expected.json`). */
  def parseFlat(s: String): Map[String, String] =
    """"([^"]+)"\s*:\s*("([^"]*)"|[-0-9.eE]+)""".r.findAllMatchIn(s).map { m =>
      m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
    }.toMap
}
