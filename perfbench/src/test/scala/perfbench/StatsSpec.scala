package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is an observed sample (nearest rank), never an interpolation") {
    val xs = Seq(40.0, 10.0, 30.0, 20.0)
    assert(Stats.percentile(xs, 0.5) == 20.0)
    assert(Stats.percentile(xs, 0.75) == 30.0)
    assert(Stats.percentile(xs, 1.0) == 40.0)
    assert(Stats.percentile(xs, 0.01) == 10.0)
    val odd = Seq(5.0, 1.0, 3.0)
    assert(Stats.median(odd) == 3.0)
    (1 to 50).foreach { n =>
      val s = (1 to n).map(_ * 1.5)
      Seq(0.5, 0.75, 0.9).foreach(p => assert(s.contains(Stats.percentile(s, p))))
    }
  }

  test("the tail is the highest of p90/p75/p50 that leaves at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(39).contains(0.5))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.9))
    (1 to 300).foreach { n =>
      Stats.tailPercentile(n).foreach(p => assert(Stats.beyond(n, p) >= 10))
      Stats.TailLadder.filter(p => Stats.tailPercentile(n).forall(p > _))
        .foreach(p => assert(Stats.beyond(n, p) < 10, s"n=$n skipped p$p"))
    }
  }

  test("the tail of a sample counts the samples ranked above it") {
    val s = Stats.Sample((1 to 40).map(_.toDouble), failures = 0, penalty = 40.0)
    val (p, v) = s.tail.get
    assert(p == 0.75 && v == 30.0)
    assert(s.values.count(_ > v) == 10)
  }
}
