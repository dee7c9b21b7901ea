package perfbench

/** Minimal JSON writer for the harness's result and span files. A
  * `Seq` of `(String, _)` pairs or a `Map` renders as an object, any
  * other `Seq` as an array; non-finite numbers render as null. */
object Json {
  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(json: String) { override def toString: String = json }

  def obj(fields: (String, Any)*): Raw = Raw(render(fields))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] if s.nonEmpty && s.forall {
          case (_: String, _) => true
          case _ => false
        } =>
      s.map { case (k: String, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
