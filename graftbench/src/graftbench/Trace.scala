package graftbench

import scala.collection.mutable.ArrayBuffer

/** Epoch milliseconds with sub-millisecond resolution, so harness spans
  * line up with the epoch-millisecond times in Spark's own events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder. A span has a name, a layer (the module it
  * times: sources, streaming, operators, functions, spark, gen, jvm or
  * bench), start and end in epoch ms, the id of its parent (0 = root) and
  * the run id. Nesting on one thread follows a thread-local stack; spans
  * built from Spark events name their parent explicitly. Nothing is
  * written until [[toJson]] at the end of the run. When disabled every
  * call is a pass-through, so the untraced run pays nothing. */
final class Trace(val enabled: Boolean, val runId: String) {
  private final case class Span(id: Int, name: String, layer: String,
      start: Double, end: Double, parent: Int, attrs: Map[String, Any])

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  /** Driver time spent inside this recorder: the tracing overhead. */
  private val overhead = new java.util.concurrent.atomic.AtomicLong()

  def overheadMs: Double = overhead.get() / 1e6
  private def charge(ns: Long): Unit = if (enabled) overhead.addAndGet(ns): Unit

  def current: Int = if (enabled) stack.get.headOption.getOrElse(0) else 0

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  /** Time `body` as a child of the calling thread's current span. */
  def span[A](layer: String, name: String,
      attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val t = System.nanoTime()
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val start = Clock.nowMs
      charge(System.nanoTime() - t)
      try body
      finally {
        val t2 = System.nanoTime()
        val end = Clock.nowMs
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, layer, start, end, parent, attrs) }
        charge(System.nanoTime() - t2)
      }
    }

  /** Record a finished span (from an event) and return its id. */
  def add(layer: String, name: String, start: Double, end: Double,
      parent: Int, attrs: Map[String, Any] = Map.empty): Int =
    if (!enabled) 0
    else {
      val t = System.nanoTime()
      val id = newId()
      synchronized { spans += Span(id, name, layer, start, end, parent, attrs) }
      charge(System.nanoTime() - t)
      id
    }

  def toJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
        "run" -> runId) ++ s.attrs
    }
  }
}
