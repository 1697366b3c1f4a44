package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is 0 for a root span; spans of
  * one operation share `trace`. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder: spans are kept until the run ends and then
  * written out in one piece. A disabled tracer runs the body alone. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L

  def all: Seq[Span] = spans.toSeq

  /** Times `body` as span `name`; the body receives the span's id so it
    * can open children under it. */
  def span[T](name: String, trace: String, parent: Long = 0L)
             (body: Long => T): T = {
    if (!enabled) body(0L)
    else {
      val id = nextId; nextId += 1
      val t0 = System.nanoTime()
      try body(id)
      finally spans += Span(id, parent, trace, name, t0, System.nanoTime())
    }
  }
}

object Spans {
  /** Self time: the span's duration minus the part of its interval its
    * children cover. Children may overlap one another and may stick out
    * of the parent; each instant is subtracted at most once. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }

  /** Self time of every span, by id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}
