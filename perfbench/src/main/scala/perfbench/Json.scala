package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the result line and the run report. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] =>
      if (s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty)
        s.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
      else s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def writeFile(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(UTF_8)): Unit
}
