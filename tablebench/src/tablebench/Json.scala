package tablebench

/** Just enough JSON output for the run record: maps, sequences, strings,
  * numbers, booleans and null.
  */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case s: String => quote(sb, s)
    case n: Number => sb ++= n.toString
    case b: Boolean => sb ++= b.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        quote(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
