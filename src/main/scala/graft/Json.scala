package graft

/** JSON text for values that come from outside the program: paths,
  * skip reasons, SQL, schemas. */
object Json {

  /** `s` as a JSON string literal: quote, backslash and ALL control
    * chars (< 0x20) escaped — a tab or CR in hand-written SQL, or a
    * quote in a directory name, would otherwise break the reader's parse. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
