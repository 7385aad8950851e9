package perfbench

/** Minimal JSON rendering for the harness's records and result file. */
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

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Append-only per-op record file: a `started` line before each op and
  * a `finished` line after it, flushed at once, so a killed run still
  * names the op it was on.
  */
final class Records(path: java.nio.file.Path) {
  private val w = java.nio.file.Files.newBufferedWriter(path,
    java.nio.charset.StandardCharsets.UTF_8)

  def write(fields: (String, Any)*): Unit = synchronized {
    w.write(Json.render(scala.collection.immutable.ListMap(
      (("t_ms" -> System.currentTimeMillis()) +: fields): _*)))
    w.newLine()
    w.flush()
  }

  def close(): Unit = synchronized(w.close())
}
