package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. Times are epoch nanoseconds, so spans line up with
  * the millisecond timestamps Spark stamps on job, stage, task and
  * streaming-progress events. `op` is the operation the span belongs to
  * (all spans of one operation share it); `parent` is -1 for a root. */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, op: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Span recorder for the single-client benchmark loop. Disabled, `span`
  * only runs its body. Spans stay in memory until the run ends. */
final class Tracer(val enabled: Boolean) {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def now(): Long = System.nanoTime() + offset

  def spans: Seq[Span] = recorded.toSeq

  /** Start a new operation: spans opened until the next call share `id`. */
  def beginOp(id: Int): Unit = currentOp = id

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = recorded.size
      val parent = stack.headOption.getOrElse(-1)
      recorded += Span(id, parent, name, layer, currentOp, now(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        recorded(id) = recorded(id).copy(end = now())
      }
    }
}

object Trace {

  /** Total length covered by a set of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(clip(kids, s.start, s.end)))
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
