package perfbench

/** Just enough JSON writing for the run artifact (no JSON library is on
  * the engine's classpath). Non-finite numbers are written as null. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
