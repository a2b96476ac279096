package graft.obs

/** The two JSON scalars the mains write. */
private[graft] object Json {

  /** A JSON string literal: backslash, quote and every control character
    * (< 0x20) escaped — a raw tab or CR would make a JSON parser reject the
    * whole file.
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

  /** Three decimals under Locale.ROOT: the f-interpolator honours the JVM
    * default locale, and a comma-decimal locale would corrupt the JSON.
    */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
