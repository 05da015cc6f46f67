package graft

/** Hand-built JSON (Verify's oracle_sql.json, Bench's lines, the
  * streaming progress log) shares one string escape. */
object Json {

  /** `s` as a JSON string literal, or `null` for a null `s`: backslash,
    * quote and ALL control chars (< 0x20) escaped — a tab or CR in
    * builder-authored SQL or a newline in an exception message would
    * otherwise make the line invalid JSON for its consumer. */
  def quote(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
