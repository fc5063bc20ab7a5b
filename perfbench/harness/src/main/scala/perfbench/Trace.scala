package perfbench

import scala.collection.mutable

/** In-memory spans and counts for one workload run. A span records its
  * name, start, end and parent; every span of a run shares the run's
  * trace id. When tracing is off, [[span]] only runs its body, so the
  * untraced runs that give the end-to-end numbers carry no bookkeeping.
  */
final class Trace(val traceId: String, val on: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private var selfNanos = 0L

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val b0 = System.nanoTime()
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, System.nanoTime(), -1L)
      stack.push(id)
      selfNanos += System.nanoTime() - b0
      try body
      finally {
        val e0 = System.nanoTime()
        stack.pop()
        spans(id) = spans(id).copy(end = System.nanoTime())
        selfNanos += System.nanoTime() - e0
      }
    }

  def count(name: String, v: Double): Unit = if (on) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Milliseconds spent in span bookkeeping. */
  def bookkeepingMs: Double = selfNanos / 1e6

  /** Self time per span name: duration minus the part of the span its
    * children cover, summed over every span of that name. */
  def selfMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end)).toSeq
      ((s.end - s.start - coverage(kids)) / 1e6) max 0.0
    }(_ + _)
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val ss = spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f}""")
    val cs = counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    s"""{"trace_id":${Json.str(traceId)},"spans":[${ss.mkString(",")}],"counts":{${cs.mkString(",")}}}"""
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

  /** Length of the union of [start, end] intervals. */
  def coverage(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    (total + (curE - curS)).toDouble
  }
}

object Json {
  def str(s: String): String = graft.Json.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
