package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Json {

  /** The one Jackson mapper the engine reads JSON with. An ObjectMapper is
    * thread-safe once configured, and this one is never reconfigured, so
    * the concurrent HTTP routes share it instead of building one per call.
    */
  private val mapper = new ObjectMapper()

  /** Parse a JSON document into Jackson's tree model. */
  def read(s: String): JsonNode = mapper.readTree(s)

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
