package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("median of kinds: the median of each kind's median") {
    val ops = Seq("a" -> 1.0, "a" -> 1.1, "a" -> 9.0, "b" -> 2.0, "b" -> 2.2,
      "b" -> 2.1, "c" -> 5.0)
    // kind medians 1.1, 2.1, 5.0
    assert(Stats.medianOfKinds(ops) == 2.1)
    assert(Stats.medianOfKinds(Seq("x" -> 3.0, "y" -> 1.0)) == 2.0)
  }

  test("tail: no percentile qualifies with ten samples or fewer") {
    assert(Stats.tail(Seq.fill(10)(1.0)).isEmpty)
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t11.value == 1.0)
    assert(math.abs(t11.percentile - 100.0 / 11) < 1e-9)
    assert(t11.samples == 11)
    val t100 = Stats.tail(scala.util.Random.shuffle((1 to 100).map(_.toDouble))).get
    assert(t100.value == 90.0)
    assert(t100.percentile == 90.0)
    // exactly ten samples lie beyond the reported value
    val xs = (1 to 37).map(i => i * 1.5)
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == 10)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((3L, 3L), (5L, 4L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("self time: disjoint children") {
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
  }

  test("self time: overlapping children are counted once") {
    assert(Stats.selfTime(0, 100, Seq((10L, 60L), (40L, 80L))) == 30)
    assert(Stats.selfTime(0, 100, Seq((10L, 60L), (20L, 30L))) == 50)
  }

  test("self time: children are clipped to the parent") {
    assert(Stats.selfTime(50, 100, Seq((0L, 60L), (90L, 200L))) == 30)
    assert(Stats.selfTime(50, 100, Seq((0L, 40L))) == 50)
  }

  test("span self times over a tree add up to the root when children nest") {
    import Trace.Span
    val tree = Seq(
      Span(0, -1, "pass", "bench", 0, 100),
      Span(1, 0, "q", "queries", 10, 90),
      Span(2, 1, "build", "queries", 10, 40),
      Span(3, 1, "exec", "queries", 40, 90),
      Span(-2, 3, "job 0", Trace.JobLayer, 50, 70),
      Span(-3, 3, "job 1", Trace.JobLayer, 60, 80))
    val self = Trace.selfTimes(tree)
    assert(self(0) == 20 && self(1) == 0 && self(2) == 30 && self(3) == 20)
    assert(self(-2) == 20 && self(-3) == 20)
    // the two jobs overlap for 10 units, which the sum counts twice
    assert(self.values.sum == 110)
  }
}
