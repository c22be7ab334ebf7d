package perfbench

/** Minimal JSON rendering for the run record. A `Map`, or a non-empty
  * `Seq` of `(String, _)` pairs, renders as an object; any other `Seq` as
  * an array; `None` as null.
  */
object Json {
  final case class Raw(text: String)

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case Raw(t) => t
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).text
    case xs: Seq[_] if xs.nonEmpty && xs.forall { case (_: String, _) => true; case _ => false } =>
      obj(xs.map { case (k: String, x) => k -> x }).text
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
