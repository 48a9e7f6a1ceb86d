package graft

/** JSON string literals for the hand-written records (Bench's
  * self-record lines, Verify's `oracle_sql.json`). */
private[graft] object Json {

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or newline in builder-authored SQL
    * or a generator's `sql` would otherwise make the record invalid
    * JSON. A null string renders as "". */
  def str(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
