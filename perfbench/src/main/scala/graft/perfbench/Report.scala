package graft.perfbench

/** Already-rendered JSON, embedded verbatim by [[Json.render]]. */
final case class RawJson(json: String)

/** Minimal JSON rendering for the harness's own records (no parsing). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Numbers keep every digit Java prints; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case RawJson(j) => j
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = render(scala.collection.immutable.ListMap(kv: _*))
}

/** Committed output expectations: one `workload<TAB>op<TAB>observation`
  * line per operation. A query's observation is its row count; a chain's
  * is its netCDF record count and variable names. */
object Expected {
  def load(path: java.io.File): Map[(String, String), String] =
    if (!path.isFile) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 3))
      .collect { case Array(w, o, obs) => (w, o) -> obs }
      .toMap
}
