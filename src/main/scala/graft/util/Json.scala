package graft.util

/** Minimal JSON string escaping and number formatting shared by the
  * driver-contract mains.
  * Escapes backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * a query name or SQL string would otherwise make the driver's json.load
  * fail and silently zero a round's results. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Locale-safe decimal with `scale` places, rounded half-up: `"%.2f"`
    * uses the JVM default locale, and a comma-decimal locale would emit
    * invalid JSON. A negative value prints as `-1`, Bench's failed-query
    * marker. */
  def fmt(v: Double, scale: Int): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
}
