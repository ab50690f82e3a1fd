package graft.perfbench

/** Minimal JSON encoder for the result lines (maps keep insertion order). */
object Json {
  def enc(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + enc(x) }.mkString("{", ", ", "}")
    case o: Option[_] => o.map(enc).getOrElse("null")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): String = enc(collection.immutable.ListMap(kvs: _*))

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
