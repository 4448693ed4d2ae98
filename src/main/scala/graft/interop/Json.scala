package graft.interop

/** JSON string quoting shared by the interop emitters (REST / Glue /
  * Iceberg export) and the bench's JSON line — previously private copies,
  * which meant an escaping fix had to land in each. Escapes backslash, quote AND
  * control characters: an unescaped control char (e.g. a newline inside a
  * relayed error message) emits an invalid JSON document.
  */
private[graft] object Json {
  def q(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '\\'            => b ++= "\\\\"
      case '"'             => b ++= "\\\""
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c               => b += c
    }
    (b += '"').result()
  }
}
