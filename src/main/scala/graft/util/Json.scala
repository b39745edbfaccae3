package graft.util

object Json {
  /** A quoted JSON string literal: escapes backslash, quote, and ALL
    * control chars (< 0x20) — a tab or CR in an oracle SQL string would
    * otherwise make a reader's `json.load` fail and silently skip every
    * correctness check.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
