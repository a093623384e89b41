package c360bench

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
}
