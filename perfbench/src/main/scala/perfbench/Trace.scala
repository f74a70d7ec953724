package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Spans recorded at the benchmark's own layer boundaries: around each
  * call it makes into the engine. A span has a name (`layer.call`), start
  * and end in nanoseconds, the span that caused it, and the id of the
  * request, tick or pass it belongs to. Spans stay in memory until [[write]].
  *
  * When `on` is false, [[span]] runs the body and records nothing, so the
  * untraced run pays one branch per boundary. With `counters`, every
  * top-level span also records how far each listener counter moved while
  * it was open (read without waiting for Spark's listener bus, so an event
  * can land in the next span).
  */
final class Trace(val on: Boolean, counters: () => Map[String, Long] = () => Map.empty) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counts = new ConcurrentLinkedQueue[(Long, String, Double)]()

  def span[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val c0 = if (parent == 0L) counters() else Map.empty[String, Long]
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        stack.set(stack.get().tail)
        if (c0.nonEmpty) counters().foreach { case (k, v) => counts.add((id, k, (v - c0(k)).toDouble)) }
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name, in ms summed over spans: each span's duration
    * minus the part its child spans cover (children nest on one thread, so
    * their intervals are disjoint inside the parent).
    */
  def selfMs: Map[String, Double] = Trace.selfMs(all)

  /** One JSON line per span, then one per count. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      all.sortBy(_.start).foreach { s =>
        w.write(s"""{"span":${s.id},"parent":${s.parent},"name":${Report.str(s.name)},""" +
          s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
        w.newLine()
      }
      counts.asScala.foreach { case (sp, n, v) =>
        w.write(s"""{"count":${Report.str(n)},"span":$sp,"value":${Report.num(v)}}""")
        w.newLine()
      }
      selfMs.toSeq.sortBy(-_._2).foreach { case (n, v) =>
        w.write(s"""{"self_ms":${Report.str(n)},"value":${Report.num(v)}}""")
        w.newLine()
        Log(f"self time $n%-28s $v%12.1f ms")
      }
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String, op: Long,
      start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.name).view.mapValues(
      _.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }
}
