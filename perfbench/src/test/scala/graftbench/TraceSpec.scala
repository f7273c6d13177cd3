package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("median handles odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles follow Python's statistics.quantiles(n=4)") {
    // statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([5, 1, 3], n=4) == [1.0, 3.0, 5.0]
    assert(Stats.quartiles(Seq(5.0, 1.0, 3.0)) == ((1.0, 3.0, 5.0)))
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
  }

  test("summaries count only the samples that are numbers") {
    val s = Stats.summary(Seq(1.0, Double.NaN, 3.0, 2.0))
    assert(s.n == 3 && s.median == 2.0 && s.q1 == 1.0 && s.q3 == 3.0)
    assert(Stats.summary(Seq(Double.NaN)).n == 0)
    assert(Stats.summary(Seq(Double.NaN)).median.isNaN)
    assert(Stats.summary(Seq(4.0)) == Stats.Summary(1, 4.0, 4.0, 4.0))
  }

  test("covered length merges overlaps and clips to the parent") {
    assert(Trace.covered(Nil, 0, 10) == 0)
    assert(Trace.covered(Seq((1L, 3L), (2L, 5L), (7L, 8L)), 0, 10) == 5)
    assert(Trace.covered(Seq((-5L, 2L), (9L, 20L)), 0, 10) == 3)
    assert(Trace.covered(Seq((2L, 8L), (3L, 4L)), 0, 10) == 6)
    assert(Trace.covered(Seq((20L, 30L)), 0, 10) == 0)
  }

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(1, 0, "pass", "p", 0, 100),
      Span(2, 1, "op", "a", 10, 50),
      Span(3, 1, "op", "b", 40, 90),
      Span(4, 2, "job", "j1", 20, 30),
      Span(5, 3, "job", "j2", 60, 95),
      Span(6, 5, "stage", "s", 60, 70))
    val self = Trace.selfUs(spans)
    assert(self == Map(1L -> 20L, 2L -> 30L, 3L -> 20L, 4L -> 10L, 5L -> 25L, 6L -> 10L))
    val byLayer = Trace.selfByLayer(spans)
    Seq("pass" -> 20e-6, "op" -> 50e-6, "job" -> 35e-6, "stage" -> 10e-6).foreach { case (l, v) =>
      assert(math.abs(byLayer(l) - v) < 1e-12, l)
    }
  }

  test("per-pass self times are medians over the traced passes") {
    def pass(id: Long, t0: Long, opUs: Long): Seq[Span] =
      Seq(Span(id, 0, "pass", "p", t0, t0 + 100), Span(id * 10, id, "op", "o", t0, t0 + opUs))
    val spans = pass(1, 0, 60) ++ pass(2, 200, 80) ++ pass(3, 400, 70)
    val passes = Seq(1L, 2L, 3L).map(id => Pass(IndexedSeq.empty, traced = true, id))
    val m = Ledger.selfTimes(spans, passes).map(t => t._1 -> t._2).toMap
    assert(math.abs(m("self.op_s") - 70e-6) < 1e-12)
    assert(math.abs(m("self.pass_s") - 30e-6) < 1e-12)
    assert(m("self.job_s") == 0.0)
  }
}
