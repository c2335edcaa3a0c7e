package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer, made on thread `thread`. Times are
  * wall-clock milliseconds, the clock Spark stamps its job events
  * with, so jobs can be attributed to the span they started in.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
    thread: String = "") {
  def durMs: Long = endMs - startMs
}

/** Span recorder for the traced run. Spans nest by call order within
  * each thread and stay in memory until the run ends. A disabled
  * tracer only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack.set(outer)
        val s = Span(id, name, outer.headOption.getOrElse(-1), t0, System.currentTimeMillis(),
          Thread.currentThread.getName)
        done.synchronized(done += s)
      }
    }

  def spans: Seq[Span] = done.synchronized(done.sortBy(_.id).toSeq)
}

object Trace {
  /** Length of the union of `[start, end)` intervals clipped to
    * `[from, until)`.
    */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, until: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, until)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(span: Span, all: Seq[Span]): Long =
    span.durMs - coveredMs(all.filter(_.parent == span.id)
      .map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)
}
