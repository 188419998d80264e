package perfbench

import scala.collection.mutable

/** One layer call: its interval, the span that caused it, and the
  * scheduler counts taken at its two boundaries. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long, before: Counts, after: Counts) {
  def layer: String = name.takeWhile(_ != '/')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Off, a span is only the call it wraps; on, it keeps every
  * span in memory until [[write]] at the end of the run. */
final class Trace(probe: Probe, sc: org.apache.spark.SparkContext) {
  var enabled = false
  var runId = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack = id :: stack
      val before = probe.snapshot(sc)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans(id) = Span(id, parent, name, runId, t0, t1, before, probe.snapshot(sc))
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: a span's duration minus the part its children
    * cover (children run one after another, so their durations add). */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.runId}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counts":${(s.after - s.before).toJson}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
