package perfbench

import scala.collection.mutable

/** Spans and counts recorded by the benchmark around its calls into each
  * layer's public functions. Spans stay in memory and are written out once,
  * at the end of the run. A disabled tracer runs the body and records
  * nothing, so untimed and untraced runs share one code path.
  *
  * Spans are opened from one thread at a time (the driver thread or the
  * single-threaded layer replay), so a plain stack gives each span its
  * parent.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  /** Off while a traced run measures its untraced baseline window. */
  var recording: Boolean = enabled

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var request = 0
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  /** Starts a new request id; spans opened until the next call share it. */
  def newRequest(): Unit = request += 1

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), request)
      open = idx :: open
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        open = open.tail
      }
    }

  def add(name: String, v: Double): Unit = if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v
  def count(name: String): Double = counts.getOrElse(name, 0.0)

  /** Self time per span name in ms: each span's duration minus the part of
    * it that its child spans cover.
    */
  def selfMs: Map[String, Double] = {
    val child = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.groupMapReduce(i => spans(i).name)(i =>
      (spans(i).endNs - spans(i).startNs - child(i)) / 1e6)(_ + _)
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id":$i,"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"request":${s.request}}"""
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.result().getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, request: Int)
}
