package graft.util

/** String literals for the JSON lines and files the mains write by hand. */
object Json {

  /** `s` as a quoted JSON string. Backslash, quote and ALL control chars
    * (< 0x20) are escaped: a tab or CR in SQL text or an exception
    * message would otherwise make the reader's json.load fail. */
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
