package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans around the calls the benchmark makes into each layer.
  * A span records its name, start, end, parent span and the run id; the
  * parent is the innermost open span of the calling thread. Spans are
  * written out with the run's raw record when it ends. With tracing off,
  * `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.set(stack)
        done.add(Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_s" -> (start - t0) / 1e9, "end_s" -> (end - t0) / 1e9,
          "run" -> runId))
      }
    }

  def spans: Seq[Map[String, Any]] = done.asScala.toSeq
}
