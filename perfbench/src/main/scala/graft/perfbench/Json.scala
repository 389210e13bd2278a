package graft.perfbench

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null                   => "null"
    case s: String              => str(s)
    case b: Boolean             => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double              => d.toString
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]        => xs.map(render).mkString("[", ",", "]")
    case o                      => str(o.toString)
  }

  def write(f: java.io.File, v: Any): Unit =
    java.nio.file.Files.writeString(f.toPath, render(v) + "\n")
}
