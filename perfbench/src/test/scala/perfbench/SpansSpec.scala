package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def sp(id: Long, parent: Long, s: Long, e: Long) =
    Span(id, parent, "t", s"s$id", s, e)

  test("self time subtracts disjoint children") {
    val p = sp(1, 0, 0, 100)
    assert(Spans.selfNs(p, Seq(sp(2, 1, 10, 20), sp(3, 1, 50, 80))) == 60)
  }

  test("overlapping children are subtracted once") {
    val p = sp(1, 0, 0, 100)
    // [10,40) ∪ [30,60) ∪ [35,45) = [10,60): 50 covered
    val kids = Seq(sp(2, 1, 10, 40), sp(3, 1, 30, 60), sp(4, 1, 35, 45))
    assert(Spans.selfNs(p, kids) == 50)
    // order of the children does not matter
    assert(Spans.selfNs(p, kids.reverse) == 50)
  }

  test("children are clipped to the parent interval") {
    val p = sp(1, 0, 100, 200)
    val kids = Seq(sp(2, 1, 50, 120), sp(3, 1, 190, 260), sp(4, 1, 300, 400))
    assert(Spans.selfNs(p, kids) == 100 - 20 - 10)
  }

  test("selfTimes follows the parent links") {
    val all = Seq(sp(1, 0, 0, 100), sp(2, 1, 0, 60), sp(3, 2, 10, 30),
      sp(4, 1, 50, 90))
    val self = Spans.selfTimes(all)
    assert(self(1) == 100 - 90) // children cover [0,90)
    assert(self(2) == 60 - 20)
    assert(self(3) == 20)
    assert(self(4) == 40)
  }

  test("a tracer records nested spans with their parent, a disabled one none") {
    val t = new Tracer(true)
    t.span("outer", "q1") { id => t.span("inner", "q1", id)(_ => ()) }
    val Seq(inner, outer) = t.all
    assert(outer.name == "outer" && outer.parent == 0)
    assert(inner.parent == outer.id && inner.trace == "q1")
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val off = new Tracer(false)
    assert(off.span("x", "q")(_ => 42) == 42 && off.all.isEmpty)
  }
}
