package pizzabench

import scala.collection.mutable.ArrayBuffer

object Stats {

  /** Samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`, or None when fewer
    * than [[MinBeyond]] samples lie beyond it: a percentile resting on a
    * handful of tail samples is one run's outliers, not a property of
    * the system. */
  def percentile(xs: Array[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    val n = xs.length
    val rank = math.max(1, math.ceil(p * n).toInt)
    if (n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Median; the mean of the middle two for an even count; 0 if empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One traced call into a layer. Times are System.nanoTime; `parent` is
  * -1 for an op's root span; spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Per-name totals derived from spans. */
final case class SpanTotals(name: String, count: Int, totalNs: Long, selfNs: Long)

object Spans {

  /** A span's self time: its duration minus the part of its interval
    * covered by its children (overlapping children count once; a child
    * reaching outside its parent is clipped to the parent). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }

  def totals(spans: Seq[Span]): Seq[SpanTotals] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      SpanTotals(name, ss.size, ss.map(_.durNs).sum,
        ss.map(s => selfNs(s, children.getOrElse(s.id, Nil))).sum)
    }.sortBy(-_.totalNs)
  }
}

/** Records spans in memory when enabled; otherwise runs the body and
  * nothing else. Thread-safe: the parent of a span is the innermost open
  * span on the same thread. The time spent inside the tracer itself is
  * accumulated so the traced run can report its own overhead. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var selfCostNs = 0L

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get
      open.set(id :: stack)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open.set(stack)
        synchronized {
          buf += Span(id, stack.headOption.getOrElse(-1), op, name, start, end)
          selfCostNs += (start - t0) + (System.nanoTime() - end)
        }
      }
    }

  def spans: Seq[Span] = synchronized(buf.toList)
  /** Durations of the spans named `name`, ms; empty when disabled. */
  def durationsMs(name: String): Seq[Double] =
    synchronized(buf.filter(_.name == name).map(_.durNs / 1e6).toList)
  def reset(): Unit = synchronized { buf.clear(); selfCostNs = 0 }
  def overheadNs: Long = selfCostNs
}
