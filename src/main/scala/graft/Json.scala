package graft

/** The one JSON string escaper shared by every hand-built JSON line. */
object Json {
  /** `s` as a quoted JSON string literal: backslash, quote and ALL control
    * chars (< 0x20) escaped, so the output always parses. */
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
