package graft

/** The JSON string escaper shared by every hand-written JSON record. */
object Json {

  /** Quoted JSON string: escapes backslash, quote and ALL control chars
    * (< 0x20) — a raw tab or CR in an oracle SQL string would otherwise
    * make a strict reader (Python's json.load) reject the whole
    * oracle_sql.json.
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
