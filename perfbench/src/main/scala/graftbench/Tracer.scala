package graftbench

import scala.collection.mutable

/** Times calls at layer boundaries. Every call sets [[lastSeconds]]; only a
  * traced run keeps the spans, in memory, until the run writes them out.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  var op: Int = -1
  var lastSeconds: Double = 0.0
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      stack = stack.tail
      lastSeconds = dt / 1e9
      if (enabled) spans += Span(id, name, w0, w0 + dt / 1000000, parent, op)
    }
  }

  /** A span measured elsewhere (a Spark job, a planning phase, a
    * micro-batch), recorded under the innermost open span.
    */
  def record(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, name, startMs, endMs, stack.headOption.getOrElse(-1), op)
      nextId += 1
    }
}
