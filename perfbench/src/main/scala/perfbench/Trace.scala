package perfbench

import scala.collection.mutable

/** One timed call into a layer, recorded from the benchmark's side. */
final case class Span(id: Int, parent: Int, name: String, op: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Overlapping children are counted once. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - coveredNs(children.map(c => (c.startNs, c.endNs)), span.startNs, span.endNs)
}

/** In-memory span recorder. Disabled, it runs the body and records nothing,
  * so the untimed and timed paths share one code path. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Self time of every recorded span, keyed by span id. */
  def selfTimes: Map[Int, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map(s => s.id -> Trace.selfNs(s, byParent.getOrElse(s.id, Nil).toSeq)).toMap
  }
}
