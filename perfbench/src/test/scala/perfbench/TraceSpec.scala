package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("covered time is the union of the clipped intervals") {
    assert(Trace.coveredMs(Nil, 0, 100) == 0)
    assert(Trace.coveredMs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    assert(Trace.coveredMs(Seq((-5L, 10L), (90L, 120L)), 0, 100) == 20)
    assert(Trace.coveredMs(Seq((10L, 20L), (10L, 20L)), 0, 100) == 10)
  }

  test("self time subtracts what child spans cover, overlap counted once") {
    val parent = Span(0, "p", -1, 0, 100)
    val spans = Seq(parent,
      Span(1, "a", 0, 10, 40), Span(2, "b", 0, 30, 50), // overlap 30..40
      Span(3, "c", 1, 12, 20), // grandchild: already inside a
      Span(4, "d", -1, 60, 90)) // a sibling, not a child
    assert(Trace.selfMs(parent, spans) == 60)
    assert(Trace.selfMs(spans(1), spans) == 22)
    assert(Trace.selfMs(spans(4), spans) == 30)
  }

  test("spans nest by call order and a disabled tracer records nothing") {
    val t = new Tracer(true)
    val r = t.span("outer")(t.span("inner")(41) + 1)
    assert(r == 42)
    val Seq(outer, inner) = t.spans
    assert(outer.name == "outer" && outer.parent == -1)
    assert(inner.name == "inner" && inner.parent == outer.id)
    assert(inner.startMs >= outer.startMs && inner.endMs <= outer.endMs)
    val off = new Tracer(false)
    assert(off.span("x")(7) == 7 && off.spans.isEmpty)
  }

  test("a span that throws is still recorded") {
    val t = new Tracer(true)
    assertThrows[IllegalStateException](t.span("boom")(throw new IllegalStateException("x")))
    assert(t.spans.map(_.name) == Seq("boom"))
  }
}
