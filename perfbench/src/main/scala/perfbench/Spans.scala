package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval of the benchmark run. `parent` is 0 for a root.
  * Times are nanoseconds from the run's origin.
  */
final case class Span(runId: String, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def coveredNs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time: the span's duration minus the part of it that its
    * direct children cover (overlapping children count once).
    */
  def selfNs(span: Span, all: Seq[Span]): Long =
    span.durNs - coveredNs(span.startNs, span.endNs,
      all.filter(_.parent == span.id).map(s => (s.startNs, s.endNs)))

  /** Total self time per span name. */
  def selfByName(all: Seq[Span]): Map[String, Long] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfNs(_, all)).sum }
}

/** In-memory span recorder. Spans opened with [[span]] nest on the
  * calling thread; `onEnter` lets the caller publish the open span's id
  * (the benchmark tags Spark jobs with it). Disabled tracers record
  * nothing and add no work beyond the call itself.
  */
final class Tracer(val runId: String, val enabled: Boolean,
    onEnter: Long => Unit = _ => ()) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val buf = ArrayBuffer[Span]()
  private var nextId = 0L
  private var stack: List[Long] = Nil

  def now(): Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L
  def current: Long = stack.headOption.getOrElse(0L)

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = if (enabled) synchronized { buf += s }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = newId()
      val parent = current
      stack = id :: stack
      onEnter(id)
      val t0 = now()
      try f
      finally {
        add(Span(runId, id, parent, name, t0, now()))
        stack = stack.tail
        onEnter(current)
      }
    }

  def spans: Seq[Span] = synchronized(buf.toList)
}
