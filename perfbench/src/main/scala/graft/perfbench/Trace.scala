package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed layer call. `counts` holds the listener work done inside it
  * (taken at the same two boundaries as the clock), empty when the run
  * is untraced. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans held in memory and written once at exit. When disabled, [[span]]
  * only runs the body: no clock, no listener drain, no allocation, so
  * untraced runs measure the engine alone. */
final class Tracer(enabled: Boolean, counts: () => Counts) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val c0 = counts()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val d = counts() - c0
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, d.values)
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Span duration minus the part of it its children cover (children
    * run one after another, so their durations add). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
