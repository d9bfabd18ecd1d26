package graft

/** JSON string literal: quotes, backslashes and ALL control chars (< 0x20)
  * escaped — a tab or CR in oracle SQL or an exception message would
  * otherwise make the reader's json.load fail and silently zero a round's
  * correctness. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
