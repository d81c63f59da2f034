package graft.util

/** The one JSON string writer for harness stdout lines. */
object Json {

  /** `s` as a quoted JSON string: escapes `"`, `\` and every control
    * character below 0x20 — a tab or CR in an error message or in
    * builder-authored SQL would otherwise make the reader's JSON parse
    * fail and drop the whole line. */
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
