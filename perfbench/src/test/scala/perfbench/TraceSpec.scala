package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, a: Long, b: Long) = Span(id, parent, s"s$id", "op", a, b)

  test("covered time is the length of the union, clipped to the window") {
    assert(Trace.coveredNs(Nil, 0, 100) == 0)
    assert(Trace.coveredNs(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Trace.coveredNs(Seq((10L, 30L), (20L, 40L)), 0, 100) == 30)
    assert(Trace.coveredNs(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40)
    assert(Trace.coveredNs(Seq((-10L, 10L), (90L, 120L)), 0, 100) == 20)
    assert(Trace.coveredNs(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("self time subtracts nested children once") {
    val parent = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 50, 60))
    assert(Trace.selfNs(parent, kids) == 70)
    assert(Trace.selfNs(parent, Nil) == 100)
  }

  test("overlapping children are not counted twice, and parts outside the parent are ignored") {
    val parent = span(0, -1, 100, 200)
    val kids = Seq(span(1, 0, 110, 150), span(2, 0, 140, 170), span(3, 0, 190, 230))
    assert(Trace.selfNs(parent, kids) == 100 - (60 + 10))
  }

  test("the tracer records parents from nesting and self times per span") {
    val t = new Tracer(true)
    t.span("outer", "op1") {
      t.span("a", "op1")(Thread.sleep(5))
      t.span("b", "op1")(t.span("c", "op1")(()))
    }
    val all = t.all
    val byName = all.map(s => s.name -> s).toMap
    assert(byName("outer").parent == -1)
    assert(byName("a").parent == byName("outer").id)
    assert(byName("c").parent == byName("b").id)
    val self = t.selfTimes
    val outer = byName("outer")
    assert(self(outer.id) == outer.durNs - byName("a").durNs - byName("b").durNs)
    assert(all.forall(s => self(s.id) >= 0 && self(s.id) <= s.durNs))
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(false)
    assert(t.span("x", "op")(41 + 1) == 42)
    assert(t.all.isEmpty)
  }
}
