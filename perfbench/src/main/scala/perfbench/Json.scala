package perfbench

/** Minimal JSON writer for the benchmark's result and trace records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case Some(x) => apply(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Object with keys in the given order. */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
}
