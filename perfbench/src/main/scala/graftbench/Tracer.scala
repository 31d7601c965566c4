package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into graft.
  *
  * A span has a name, start and end (epoch ns), the id of the span that
  * caused it and a trace id shared by every span of one pass. Nothing
  * is written until the run ends. A disabled tracer records nothing and
  * costs one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ArrayBuffer[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var traceId: Long = 0L

  /** Run `body` inside a span named `name`, parented to the enclosing span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = Tracer.nowNs()
      try body
      finally {
        val t1 = Tracer.nowNs()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, parent, traceId, name, t0, t1) }
      }
    }

  /** Record an already-finished interval (e.g. one from a progress event). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized { spans += Span(ids.incrementAndGet(), 0L, traceId, name, startNs, endNs) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: duration minus the part covered by children. */
  def selfTimeSec: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs) - Stats.unionLength(kids, s.startNs, s.endNs)
      }.sum / 1e9
    }
  }

  def toJson: String = all.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  case class Span(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long)

  /** Wall clock in epoch nanoseconds (comparable with Spark's epoch-ms task times). */
  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** Minimal JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
