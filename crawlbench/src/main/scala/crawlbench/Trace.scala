package crawlbench

import scala.collection.mutable

/** In-memory spans around the public calls the benchmark makes into each
  * layer. Disabled (a plain call) unless the run is traced; written out once,
  * as JSON lines, when the run ends. */
final class Trace(enabled: Boolean, runId: String) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0) // ids of the spans enclosing the current call
  private var nextId = 1
  private val t0 = System.nanoTime()

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.head
      open = id :: open
      val s = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, name, s - t0, System.nanoTime() - t0)
        open = open.tail
      }
    }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}
