package graftbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval: a call into a layer, an op, a batch or the whole
  * workload. `parent` is -1 for the root. All spans of a run share the
  * tracer's `runId`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for one single-threaded closed-loop client.
  * Spans nest by call structure (an open-span stack), stay in memory and
  * are written out once, when the run ends. While `enabled` is false every
  * call is a pass-through, so untraced runs pay nothing. */
final class Tracer(var enabled: Boolean, val runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, parent, name, start, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** The tracer's clock reading at an epoch-millisecond timestamp. */
  def nanosAt(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  /** Records an interval timed elsewhere (a Spark SQL execution seen by the
    * listener) as a span under the innermost recorded span that contains
    * its midpoint, clipped to that parent. Intervals no span contains are
    * dropped. The interval must not overlap the parent's other children
    * (a program call the tracer cannot see into has none). Call after the
    * spans that may contain it have ended. */
  def attach(name: String, startNs: Long, endNs: Long): Unit = {
    val mid = startNs / 2 + endNs / 2
    val parents = done.filter(p => p.startNs <= mid && mid <= p.endNs)
    if (parents.nonEmpty) {
      val p = parents.maxBy(_.startNs)
      done += Span(nextId, p.id, name, math.max(startNs, p.startNs), math.min(endNs, p.endNs))
      nextId += 1
    }
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children are merged, so
    * concurrent children are not subtracted twice). */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of closed intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
