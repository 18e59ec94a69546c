package graft

/** JSON string-literal escaping for every hand-written JSON emitter
  * (Verify's oracle_sql.json, the HTTP endpoint's bodies, the Delta
  * log): backslash, quote, and ALL control chars (<0x20) — a tab or CR
  * left raw makes a strict parser reject the whole document.
  */
private[graft] object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
