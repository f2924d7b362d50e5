package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed call across a layer boundary. Times are nanoseconds from
  * the tracer's origin; `parent` is -1 for a root span; spans of one
  * operation share `request`. */
final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
    parent: Int, request: Int) {
  def duration: Long = end - start
}

/** In-memory span recorder for the calls the benchmark makes into the
  * engine. Single-threaded: spans open and close on the thread that
  * drives the workload, so a stack gives each span its parent. */
final class Tracer {
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[(Int, String, String, Long, Int)]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def apply[A](layer: String, name: String, request: Int)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name, layer, System.nanoTime() - origin, parent))
    try body
    finally {
      val (_, n, l, start, p) = open.pop()
      done += Span(id, n, l, start, System.nanoTime() - origin, p, request)
    }
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover (overlapping children
    * count once; child time outside the parent is ignored). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - Intervals.coveredWithin(kids, s.start, s.end))
    }.toMap
  }

  /** Summed self time per layer of the spans that `keep` selects. */
  def selfByLayer(spans: Seq[Span], keep: Span => Boolean = _ => true): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.filter(keep).groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Spans as JSON lines, in completion order. */
  def jsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "layer" -> Json.str(s.layer), "start_ns" -> Json.num(s.start),
      "end_ns" -> Json.num(s.end), "parent" -> Json.num(s.parent),
      "request" -> Json.num(s.request)))
  }
}

/** Interval arithmetic over half-open [start, end) ranges. */
object Intervals {

  /** Length of the union of `ivs` clipped to [lo, hi). */
  def coveredWithin(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Time inside the windows during which no interval of `busy` ran. */
  def idleWithin(windows: Seq[(Long, Long)], busy: Seq[(Long, Long)]): Long =
    windows.map { case (lo, hi) => (hi - lo) - coveredWithin(busy, lo, hi) }.sum
}
