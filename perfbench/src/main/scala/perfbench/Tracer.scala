package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the id of the enclosing span (-1 for
  * a root) and `rep` the repetition it belongs to, shared by all spans of
  * that repetition. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, rep: Int,
                      startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

object Span {

  /** Self time: the span's duration minus the part of it that its child
    * spans cover. Overlapping children count once; children that spill
    * past the span are clipped to it. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val ivs = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durationNs - covered
  }

  /** Total duration per span name, s. */
  def totals(spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).map { case (name, ss) => name -> ss.map(_.durationNs).sum / 1e9 }
}

/** Records spans around calls into the library. Disabled, `span` runs
  * its body and records nothing, so the untraced run pays one branch.
  * Spans stay in memory until [[toJsonLines]] at the end of the run. */
final class Tracer(var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Repetition id stamped on every span opened from now on. */
  var rep: Int = 0
  /** Called with the span name when a span opens and with the parent's
    * name (or null) when it closes; tags Spark jobs with their span. */
  var onEnter: String => Unit = _ => ()

  def current: Option[String] = stack.headOption.map(id => spans(id).name)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, rep, System.nanoTime(), -1L)
      stack = id :: stack
      onEnter(name)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
        onEnter(current.orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** One JSON object per span, with its self time. */
  def toJsonLines: Iterator[String] = {
    val children = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val self = Span.selfNs(s, children.getOrElse(s.id, Nil).toSeq)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"rep":${s.rep},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}"""
    }
  }
}
