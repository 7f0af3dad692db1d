package perfbench

import scala.collection.mutable

/** Spans kept in memory and written out when the run ends.
  *
  * Times are epoch microseconds, so the benchmark's own spans (from the
  * monotonic clock, anchored once) and Spark's job and stage events
  * (epoch milliseconds) sit on one axis. The tree is
  * workload › round › op › layer call › Spark job › stage.
  */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

final case class Span(id: Int, parent: Int, name: String, startUs: Long,
                      var endUs: Long = -1L,
                      attrs: mutable.LinkedHashMap[String, Any] =
                        mutable.LinkedHashMap.empty) {
  def durUs: Long = endUs - startUs
}

object Spans {

  /** Total length of the union of `intervals`, clipped to `[lo, hi)`. */
  def unionUs(intervals: Seq[(Long, Long)], lo: Long = Long.MinValue,
              hi: Long = Long.MaxValue): Long = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > Long.MinValue) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > Long.MinValue) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover. Children may overlap each other (stages
    * of one job run in parallel) and may spill past the parent's edges
    * (a listener's clock is coarser); both are clipped, never counted
    * twice.
    */
  def selfUs(parent: (Long, Long), children: Seq[(Long, Long)]): Long =
    (parent._2 - parent._1) - unionUs(children, parent._1, parent._2)
}

/** Stack-based span recorder for the driver thread. With `enabled`
  * false it only runs the bodies, so untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def open(name: String): Span = {
    val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
      name, Clock.nowUs)
    if (enabled) spans += s
    stack.push(s)
    s
  }

  def close(s: Span): Unit = {
    s.endUs = Clock.nowUs
    require(stack.pop() eq s, s"span ${s.name} closed out of order")
  }

  def apply[T](name: String)(body: Span => T): T = {
    val s = open(name)
    try body(s) finally close(s)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
}
