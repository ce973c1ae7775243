package graft

/** JSON string escaping for the hand-built JSON the mains and the service
  * shell write: quote, backslash and every control char below 0x20 are
  * escaped, so a quote or tab in oracle SQL, an exception message or a
  * routing key cannot make the document unparseable.
  */
object Json {
  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** `s` as a JSON string literal, quotes included. */
  def quote(s: String): String = "\"" + escape(s) + "\""
}
