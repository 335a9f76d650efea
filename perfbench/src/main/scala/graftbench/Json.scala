package graftbench

/** Minimal JSON writer for the harness's result and manifest files. */
object Json {
  def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.result()
  }

  /** Renders Scala values (Map, Seq, String, numbers, Boolean, null) as JSON. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => render(other.toString)
  }
}
