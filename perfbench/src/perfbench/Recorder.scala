package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer

/** In-memory record log, written as JSON lines when the run ends. Every
  * timestamp in it is epoch milliseconds (fractional), the clock Spark's
  * listener events use, so harness spans and Spark jobs line up. */
final class Recorder(path: String) {
  private val lines = ArrayBuffer.empty[String]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    lines += Json.obj(("k" -> kind) +: fields)
  }

  def close(): Unit = synchronized {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + enc(v) }.mkString("{", ",", "}")

  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case a: Array[_] => enc(a.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = {
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
}

object Ops {
  /** Runs one operation and records it; a throw counts as a failed
    * operation and is not rethrown, so the run goes on and reports it. */
  def attempt(rec: Recorder, phase: String, name: String)(body: => Unit): Option[String] = {
    val err =
      try { body; None }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $phase $name failed: $e")
          Some(e.toString)
      }
    rec.emit("op", "phase" -> phase, "q" -> name, "ok" -> err.isEmpty, "err" -> err)
    err
  }
}
