package servebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a request's root. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder for the traced run. Spans are kept in a
  * lock-free queue and written out once, after the timed region; with
  * tracing off every call is a no-op apart from the body itself. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = if (on) ids.incrementAndGet() else 0L

  def record(id: Long, parent: Long, req: Long, name: String,
      start: Long, end: Long): Unit =
    if (on) spans.add(Span(id, parent, req, name, start, end))

  def record(parent: Long, req: Long, name: String, start: Long, end: Long): Unit =
    if (on) record(ids.incrementAndGet(), parent, req, name, start, end)

  def time[A](parent: Long, req: Long, name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally record(parent, req, name, t0, System.nanoTime())
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the part its children
    * cover (children of one request run one after another). */
  def selfTimes: Map[Long, Long] = {
    val s = all
    val childNs = s.filter(_.parent != 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    s.map(x => x.id -> (x.durNs - childNs.getOrElse(x.id, 0L))).toMap
  }

  /** (span name → (count, total self ms)). */
  def selfByName: Map[String, (Int, Double)] = {
    val self = selfTimes
    all.groupBy(_.name).map { case (n, xs) =>
      n -> ((xs.size, xs.map(x => self(x.id)).sum / 1e6))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.write(scala.collection.mutable.LinkedHashMap("id" -> s.id,
        "parent" -> s.parent, "req" -> s.req, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "self_ns" -> self(s.id))))
      w.newLine()
    } finally w.close()
  }
}
