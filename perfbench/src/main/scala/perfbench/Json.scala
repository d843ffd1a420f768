package perfbench

/** Minimal JSON writer for the run record (no JSON library ships with
  * the Spark distribution the benchmark builds against). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
