package graft.perfbench

/** Minimal JSON emitter for the result and span lines. Doubles print with
  * every digit (`Double.toString`); non-finite values become null. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Some(x) => value(x)
    case None => "null"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** An object with keys in the given order. */
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, x) => s"${str(k)}:${value(x)}" }.mkString("{", ",", "}"))
}
