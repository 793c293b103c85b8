package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 100).map(i => i.toDouble -> 1L)
    assert(Stats.weightedPercentile(xs, 0.9).contains(90.0)) // 10 samples beyond
    assert(Stats.weightedPercentile(xs, 0.91).isEmpty)       // 9 beyond
    assert(Stats.weightedPercentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.weightedPercentile(xs.take(20), 0.5).contains(10.0))
    assert(Stats.weightedPercentile(Nil, 0.5).isEmpty)
  }

  test("weighted percentiles count each value once per unit of weight") {
    // 500 records at 100 ms, 500 at 300 ms
    val lat = Seq(100.0 -> 500L, 300.0 -> 500L)
    assert(Stats.weightedPercentile(lat, 0.5).contains(100.0))
    assert(Stats.weightedPercentile(lat, 0.99).contains(300.0))
    // 1000 records: p99 leaves exactly 10 beyond it, p99.5 only 5
    assert(Stats.weightedPercentile(Seq(1.0 -> 1000L), 0.99).contains(1.0))
    assert(Stats.weightedPercentile(Seq(1.0 -> 1000L), 0.995).isEmpty)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time excludes the union of the children's intervals") {
    val parent = Trace.Span(1, 0, "p", 0, 100)
    val kids = Seq(Trace.Span(2, 1, "a", 10, 30), Trace.Span(3, 1, "b", 20, 40),
      Trace.Span(4, 1, "c", 90, 120))
    assert(Trace.covered(parent, kids) == 40) // [10,40) and [90,100)
  }

  test("orphan spans are adopted by the shortest span containing them") {
    val t = new Trace(enabled = true, "run")
    val outer = t.record("workload", 0, 0, 1000)
    val batch = t.record("batch", outer, 100, 200)
    val job = t.record("job", 0, 120, 180)
    val late = t.record("job", 0, 500, 600)
    t.adopt(Set(outer, batch), 0)
    val parents = t.all.map(s => s.id -> s.parent).toMap
    assert(parents(job) == batch && parents(late) == outer)
  }

  test("tracing off records nothing") {
    val t = new Trace(enabled = false, "run")
    assert(t.span("x", 0)(_ => 7) == 7)
    assert(t.all.isEmpty)
  }
}
