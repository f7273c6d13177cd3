package graftbench

import scala.collection.mutable

/** Order statistics for the reported numbers. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Sample count, median and quartiles of the samples that are numbers
    * (a failed call's time is NaN and is left out). */
  final case class Summary(n: Int, median: Double, q1: Double, q3: Double) {
    override def toString: String = f"n=$n, quartiles $q1%.4f..$q3%.4f"
  }

  def summary(xs: Seq[Double]): Summary = {
    val ok = xs.filterNot(_.isNaN)
    ok.length match {
      case 0 => Summary(0, Double.NaN, Double.NaN, Double.NaN)
      case 1 => Summary(1, ok.head, ok.head, ok.head)
      case n => val (q1, _, q3) = quartiles(ok); Summary(n, median(ok), q1, q3)
    }
  }

  /** Quartiles by the same rule as Python's `statistics.quantiles(n=4)`
    * (method "exclusive"); needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need two samples")
    val s = xs.sorted
    val n = s.length
    def q(i: Int): Double = {
      val m = (n + 1) * i
      val j = math.min(math.max(m / 4, 1), n - 1)
      val delta = m - 4 * j
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }
}

/** One traced interval. `parent` is 0 for a root; times are µs on one clock. */
final case class Span(id: Long, parent: Long, layer: String, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Spans are written out only when the run ends. */
final class Tracer {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Run `f` inside a span whose id it receives. */
  def span[T](layer: String, name: String, parent: Long)(f: Long => T): T = {
    val id = newId()
    val t0 = nowUs
    try f(id) finally add(Span(id, parent, layer, name, t0, nowUs))
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {
  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfUs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(kids, s.startUs, s.endUs))
    }.toMap
  }

  /** Summed self time per layer, in seconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfUs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""
}
