package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer of the program.
  *
  * A span has a name, start, end, parent and run id. Spans stay in memory
  * and are written as JSON lines when the run ends. When the trace is not
  * enabled, or switched `on = false` for an untraced pass, `span` only
  * runs its body. Spans nest on the calling thread only; the
  * benchmark calls every layer from its driver thread.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace.Span

  var on: Boolean = enabled

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      open = s :: open
      try body
      finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  def count(name: String): Int = spans.count(_.name == name)

  /** Total duration of the spans named `name`, in ns. */
  def totalNs(name: String): Long =
    spans.iterator.filter(_.name == name).map(_.durNs).sum

  /** Self time of each span named `name`, in start order: its duration
    * minus the part covered by its direct children, in ns. */
  def selfEach(name: String): Seq[Long] = {
    val own = spans.filter(_.name == name)
    val ids = own.iterator.map(_.id).toSet
    val children = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (ids.contains(s.parent)) children(s.parent) += s.durNs)
    own.map(s => s.durNs - children(s.id)).toSeq
  }

  def selfNs(name: String): Long = selfEach(name).sum

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val lines = spans.iterator.map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("", "\n", "\n")
    Files.write(path, lines.getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, var endNs: Long = -1L) {
    def durNs: Long = endNs - startNs
  }
}
