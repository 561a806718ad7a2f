package graftbench

/** Minimal JSON rendering for the run's result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }

  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => apply(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case p: Product          => apply(p.productIterator.toSeq)
    case other               => str(other.toString)
  }
}
