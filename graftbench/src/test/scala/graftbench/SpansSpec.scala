package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered length merges overlaps and clips to the window") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 20L)), 0L, 100L) == 20L)
    assert(Spans.covered(Seq((0L, 10L), (30L, 40L)), 0L, 100L) == 20L)
    assert(Spans.covered(Seq((-5L, 10L), (90L, 150L)), 0L, 100L) == 20L)
    assert(Spans.covered(Seq((10L, 10L), (200L, 300L)), 0L, 100L) == 0L)
    assert(Spans.covered(Nil, 0L, 100L) == 0L)
  }

  test("self time is the span minus what its direct children cover") {
    val parent = Span(1, "op", "p0:x", None, 0L, 10000000000L)
    val kids = Seq(
      Span(2, "a", "p0:x", Some(1), 1000000000L, 4000000000L),
      Span(3, "b", "p0:x", Some(1), 3000000000L, 5000000000L),
      // a grandchild never counts against the op directly
      Span(4, "c", "p0:x", Some(2), 1000000000L, 2000000000L))
    val all = parent +: kids
    assert(math.abs(Spans.selfSeconds(parent, all) - 6.0) < 1e-9)
    assert(math.abs(Spans.selfSeconds(kids.head, all) - 2.0) < 1e-9)
    assert(math.abs(Spans.selfSeconds(kids(2), all) - 1.0) < 1e-9)
  }

  test("recorded spans nest and share the op id") {
    val spans = new Spans
    spans("outer", "p1:q") { spans("inner", "p1:q") { Thread.sleep(5) } }
    val Seq(outer, inner) = spans.all
    assert(outer.name == "outer" && inner.parent.contains(outer.id))
    assert(inner.op == outer.op)
    assert(Spans.selfSeconds(outer, spans.all) <= outer.seconds - inner.seconds + 1e-9)
  }
}
