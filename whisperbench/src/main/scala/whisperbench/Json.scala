package whisperbench

/** Minimal JSON rendering for the benchmark's flat records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String  => str(s)
    case b: Boolean => b.toString
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case s: Seq[_]  => s.map(value).mkString("[", ", ", "]")
    case other      => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ": " + value(x) }.mkString("{", ", ", "}")
}
