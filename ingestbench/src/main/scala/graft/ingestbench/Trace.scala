package graft.ingestbench

import scala.collection.mutable

/** One timed call into an engine layer. `parent` is the id of the span
  * that was open on the same thread when this one began (-1 at top level);
  * `batch` is the workload's batch (or round) number. */
final case class Span(id: Int, name: String, parent: Int, batch: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once, at exit. A disabled tracer runs the body and records nothing, so
  * the untraced run pays no cost for the calls it wraps. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[A](name: String, batch: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get()
      val parent = stack.headOption.getOrElse(-1)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { done += Span(id, name, parent, batch, t0, t1) }
      }
    }

  def spans: Seq[Span] = synchronized(done.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

object Trace {

  /** Self time per span id: the span's duration minus the part of its
    * interval that its children cover (children's intervals are clipped
    * to the parent and overlaps between children count once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Σ self seconds per span name. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** Σ wall seconds per span name. */
  def secondsByName(spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }
}
