package graft

/** JSON text helpers shared by the runner mains (Bench, Verify). */
object Json {

  /** `s` as a JSON string literal: quote, backslash, and ALL control
    * chars (< 0x20) escaped — a tab or CR in builder-authored SQL or an
    * error message would otherwise make a consumer's `json.load` fail.
    */
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
