package graft

/** The JSON literal writers the harness mains and records share. */
object Json {

  /** Seconds (or MB) at millisecond resolution. */
  def num(d: Double): String = f"$d%.3f"

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in oracle SQL text would
    * otherwise make a reader's json.load fail on the whole file. */
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
