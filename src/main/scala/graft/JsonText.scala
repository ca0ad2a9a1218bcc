package graft

/** The one JSON string-escape the artifact-emitting main uses
  * (Verify's oracle_sql.json): backslash,
  * quote, and ALL control chars (<0x20). A tab or CR in
  * builder-authored SQL or an exception message would otherwise make
  * the driver's json.load fail and silently zero a round's artifact —
  * and a fix applied to one copy must not leave another corrupt,
  * hence the single shared helper. */
object JsonText {
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
