package jobbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans, written out once at the end of a traced run. Spans of
  * one pass share a trace id; a parent of 0 marks a root.
  */
final class Trace(enabled: Boolean) {
  final case class Span(trace: Int, id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  /** Epoch microseconds of a `System.nanoTime` reading. */
  def us(nanos: Long): Long = epochUs0 + (nanos - nano0) / 1000L

  def add(trace: Int, parent: Int, name: String, startUs: Long, endUs: Long): Int =
    if (!enabled) 0
    else {
      nextId += 1
      spans += Span(trace, nextId, parent, name, startUs, endUs)
      nextId
    }

  def write(f: File): Unit = if (enabled) {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(scala.collection.immutable.ListMap("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    } finally w.close()
  }
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
