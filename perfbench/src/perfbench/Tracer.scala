package perfbench

import scala.collection.mutable

/** In-memory spans at the benchmark's call boundaries into each layer.
  * One client thread drives the program, so spans nest as a stack. A
  * span's self time is its duration minus its children's durations.
  * Spans are kept in memory and written out when the run ends.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long,
      var endNs: Long = -1L, var childNs: Long = 0L) {
    def durNs: Long = endNs - startNs
    def selfNs: Long = durNs - childNs
  }

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1L

  def setOp(op: Long): Unit = currentOp = op

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), currentOp, name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption.foreach(_.childNs += s.durNs)
      }
    }

  /** Total self time in ms per span name, over the spans accepted by `keep`. */
  def selfMs(keep: Span => Boolean): Map[String, Double] =
    spans.filter(s => s.endNs >= 0 && keep(s)).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.selfNs).sum / 1e6 }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${s.selfNs}}""")
    } finally w.close()
  }
}
