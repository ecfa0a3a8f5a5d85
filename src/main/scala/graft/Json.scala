package graft

import java.util.Locale

/** JSON rendering for the harness artifacts (oracle_sql.json,
  * BENCH_FULL.json, PROFILE.json), hand-rolled so the engine's main
  * sources depend on no JSON library. */
private[graft] object Json {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in a twin's SQL text would otherwise make a
    * consumer's json.load fail and silently skip every oracle compare. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Maps (iteration order kept), sequences, strings and numbers; doubles
    * print with three decimals. */
  def render(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => String.format(Locale.ROOT, "%.3f", Double.box(d))
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) =>
      str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
  }
}
