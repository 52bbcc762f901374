package mlkbench

/** Minimal JSON writer for the result line and the detail record: maps keep
  * insertion order (pass a `Seq` of pairs), numbers print with all digits.
  */
object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                => n.toString
    case n: Long               => n.toString
    case o: Option[_]          => o.map(apply).getOrElse("null")
    case m: Map[_, _]          => render(m.toSeq.sortBy(_._1.toString))
    case kv: Obj               => render(kv.fields)
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case other                 => quote(other.toString)
  }

  /** An object whose keys keep the given order. */
  final case class Obj(fields: Seq[(Any, Any)])
  def obj(kv: (Any, Any)*): Obj = Obj(kv)

  private def render(kv: Seq[(Any, Any)]): String =
    kv.map { case (k, v) => quote(k.toString) + ":" + apply(v) }.mkString("{", ",", "}")

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
