package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one operation share `op`;
  * `parent` is the enclosing span (0 at the operation's root). */
final case class Span(op: Long, id: Long, parent: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept in a queue and written out
  * once, when the benchmark ends. Off by default: `span` is then a
  * plain call, so an untraced operation pays nothing but a
  * thread-local read. */
object Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private final class Ctx(val op: Long, var stack: List[Long])
  private val current = new ThreadLocal[Ctx]

  /** Runs `body` as operation `op`; spans inside it are recorded only
    * when `traced`. */
  def operation[A](op: Long, traced: Boolean)(body: => A): A = {
    if (traced) current.set(new Ctx(op, Nil))
    try span("op", "operation")(body) finally current.remove()
  }

  def span[A](layer: String, name: String)(body: => A): A = {
    val ctx = current.get
    if (ctx == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = ctx.stack.headOption.getOrElse(0L)
      ctx.stack = id :: ctx.stack
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(ctx.op, id, parent, layer, name, t0, System.nanoTime()))
        ctx.stack = ctx.stack.tail
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ns: each span's duration minus the time its
    * direct children cover (children run inside their parent, one at a
    * time, so their durations add up). */
  def selfNsByLayer: Map[String, Long] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
