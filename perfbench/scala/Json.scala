package graftbench

/** Minimal JSON writer for the result and trace files (flat numbers,
  * strings, booleans, nested maps and sequences). */
object Json {
  private def str(s: String): String = {
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
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => "[" + xs.map(value).mkString(",") + "]"
    case o => str(o.toString)
  }

  def obj(pairs: Seq[(String, Any)]): String =
    pairs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",\n", "]")
}
