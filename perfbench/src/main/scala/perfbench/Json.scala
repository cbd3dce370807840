package perfbench

/** Minimal JSON rendering for the result line, the truth file and the
  * trace file (numbers, strings, booleans, sequences, nested objects). */
object Json {

  private def esc(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** A pre-rendered JSON fragment (an object built by [[obj]]). */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => esc(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => esc(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${esc(k)}:${value(v)}" }.mkString("{", ",", "}")

  def raw(fields: (String, Any)*): Raw = Raw(obj(fields: _*))
}
