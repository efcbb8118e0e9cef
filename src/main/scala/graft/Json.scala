package graft

object Json {

  /** A JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in hand-written SQL or an error message would
    * otherwise make a reader's json.load fail.
    */
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
