package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans, null). Non-finite doubles render as null.
  */
object Json {
  private def str(s: String): String = {
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
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(render).getOrElse("null")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, render(v).getBytes(StandardCharsets.UTF_8))
  }
}
