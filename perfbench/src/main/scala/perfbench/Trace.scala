package perfbench

import scala.collection.mutable

/** One traced interval. `layer` is the module the span's call enters
  * (the name's first segment: analysis, index, query, bench); `request`
  * groups the spans of one query or one build. Times are epoch-aligned
  * nanoseconds (see [[Tracer.epochNs]]). */
final case class Span(id: Int, parent: Int, name: String, request: Long,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = end - start
}

/** In-memory span recorder for the single harness thread. A disabled
  * tracer records nothing and adds one branch per call, so untraced runs
  * measure the program alone. Spans are kept in memory and written out
  * once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, Long)] = Nil // (span id, request id)
  private var nextId = 1
  private var nextRequest = 1L

  /** Wall clock in nanoseconds on the same scale as Spark listener times. */
  def epochNs(nano: Long = System.nanoTime()): Long =
    baseEpochNs + (nano - baseNano)

  def newRequest(): Long = { nextRequest += 1; nextRequest }

  /** Run `f` inside a span; `request` < 0 inherits the enclosing span's. */
  def span[T](name: String, request: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val req = if (request >= 0) request else open.headOption.map(_._2).getOrElse(0L)
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, req) :: open
      val t0 = epochNs()
      try f
      finally {
        open = open.tail
        done += Span(id, parent, name, req, t0, epochNs())
      }
    }

  /** Record an interval observed elsewhere (a Spark job) under `parent`. */
  def add(name: String, parent: Int, request: Long, start: Long, end: Long): Unit =
    if (enabled) { done += Span(nextId, parent, name, request, start, end); nextId += 1 }

  def spans: Seq[Span] = done.toSeq
}

object SelfTime {

  /** Self time (ns) of every span. At each instant the elapsed time goes to
    * the innermost open spans, those with no open child, split equally
    * when several are open at once (concurrent Spark jobs under one call).
    * Children are clamped to their parent's interval, so the self times
    * of a tree sum exactly to its root's duration. */
  def of(spans: Seq[Span]): Map[Int, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val clamped = mutable.Map.empty[Int, (Long, Long, Int)] // start, end, depth
    def clamp(s: Span): (Long, Long, Int) = clamped.getOrElseUpdate(s.id,
      byId.get(s.parent) match {
        case Some(p) =>
          val (ps, pe, pd) = clamp(p)
          val st = math.min(math.max(s.start, ps), pe)
          (st, math.max(st, math.min(s.end, pe)), pd + 1)
        case None => (s.start, math.max(s.start, s.end), 0)
      })
    spans.foreach(clamp)

    // closes before opens at one instant; deeper closes first, shallower
    // opens first, so a parent is never closed while a child is open.
    // Empty intervals own no time and take no part.
    val events = spans.flatMap { s =>
      val (st, en, d) = clamped(s.id)
      if (en > st) Seq((st, 1, d, s.id), (en, 0, -d, s.id)) else Nil
    }.sortBy(e => (e._1, e._2, e._3))

    val self = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    val openChildren = mutable.Map.empty[Int, Int]
    val leaves = mutable.LinkedHashSet.empty[Int]
    var prev = Long.MinValue
    for ((t, kind, _, id) <- events) {
      if (leaves.nonEmpty && t > prev) {
        val share = (t - prev).toDouble / leaves.size
        leaves.foreach(l => self(l) += share)
      }
      prev = t
      val parent = byId(id).parent
      val parentOpen = openChildren.contains(parent)
      if (kind == 1) {
        openChildren(id) = 0
        leaves += id
        if (parentOpen) { openChildren(parent) += 1; leaves -= parent }
      } else {
        openChildren.remove(id)
        leaves -= id
        if (parentOpen) {
          openChildren(parent) -= 1
          if (openChildren(parent) == 0) leaves += parent
        }
      }
    }
    spans.map(s => s.id -> self(s.id)).toMap
  }

  /** Self seconds summed per layer. */
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = of(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
