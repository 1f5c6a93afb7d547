package perfbench

import org.scalatest.funsuite.AnyFunSuite

class FailureAccountingSpec extends AnyFunSuite {

  private val lat = Seq(120.0, 80.0, 300.0, 95.0, 410.0, 150.0)

  test("a failed operation never lowers the median or the tail") {
    val rnd = new scala.util.Random(5)
    (1 to 200).foreach { _ =>
      val xs = Seq.fill(5 + rnd.nextInt(60))(1.0 + rnd.nextDouble() * 1000)
      val clean = Stats.Sample(xs, failures = 0, penalty = xs.max)
      // The same operations, but k of them threw: their own (often short)
      // times are gone and a penalty stands in for each.
      val k = 1 + rnd.nextInt(xs.size)
      val failedSome = Stats.Sample(rnd.shuffle(xs).drop(k), failures = k, penalty = xs.max)
      assert(failedSome.p50 >= clean.p50)
      for ((p, v) <- clean.tail; (p2, v2) <- failedSome.tail if p2 == p) assert(v2 >= v)
    }
  }

  test("a failure penalty may not undercut a completed latency") {
    intercept[IllegalArgumentException](Stats.Sample(lat, failures = 1, penalty = 100.0))
  }

  test("a throwing operation is counted as failed and leaves no latency") {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val ok = Loop.attempt("q_ok", traced = false, rows = 3, onError = (w, _) => errors += w)(Map.empty)
    val bad = Loop.attempt("q_bad", traced = false, rows = 3, onError = (w, _) => errors += w) {
      throw new IllegalStateException("boom")
    }
    assert(ok.latencyMs.isDefined && bad.latencyMs.isEmpty && bad.rows == 0)
    assert(errors == Seq("q_bad"))
    val tally = Loop.tally(Seq(ok, bad), setupAttempted = 1, setupFailed = 0, checks = Nil)
    assert(tally == (3, 1))
  }

  test("a failed check raises the failure count") {
    val checks = Seq(Check("a", ok = true, ""), Check("b", ok = false, "mismatch"))
    assert(Loop.tally(Nil, setupAttempted = 0, setupFailed = 0, checks) == (2, 1))
    val clean = Loop.tally(Nil, 0, 0, checks.take(1))
    assert(clean == (1, 0))
  }
}
