package graft

import com.fasterxml.jackson.core.JsonFactory

/** The one JSON string escaper (RFC 8259 §7: quote, backslash, and
  * control characters), and the one Jackson factory. The escaper is
  * shared by every hand-built JSON emitter in the codebase — the HTTP
  * server, the Mango selector generator, and the oracle dump — so an
  * escaping fix lands everywhere at once. */
private[graft] object JsonText {

  /** The one Jackson factory every parser and generator in graft comes
    * from. A factory is thread-safe once configured, and building one
    * per document allocates fresh symbol tables each time; this one is
    * never reconfigured after construction. */
  val factory: JsonFactory = new JsonFactory()

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case '\r'         => sb.append("\\r")
      case '\t'         => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }
}
