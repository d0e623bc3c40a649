package bench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "s") =
    Span(id, parent, 1, name, start, end)

  test("self time subtracts the union of children, overlaps counted once") {
    val spans = Seq(
      span(1, Span.Root, 0, 100),
      span(2, 1, 10, 40), span(3, 1, 30, 60), // overlap 30..40
      span(4, 1, 90, 120), // runs past its parent: clipped at 100
      span(5, 2, 15, 20))
    val self = Spans.selfTime(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(5) == 5)
  }

  test("detached spans attach to the innermost driver span containing their start") {
    val spans = Seq(
      span(1, Span.Root, 0, 100),
      span(2, 1, 10, 50),
      span(3, 2, 20, 30),
      Span(4, Span.Detached, 0, "job", 25, 45), // inside 3
      Span(5, Span.Detached, 0, "job", 35, 60), // 3 ended: inside 2
      Span(6, Span.Detached, 0, "job", 70, 80), // only the root
      Span(7, Span.Detached, 0, "job", 200, 210)) // outside every op
    val byId = Spans.attach(spans).map(s => s.id -> s).toMap
    assert(byId(4).parent == 3)
    assert(byId(5).parent == 2)
    assert(byId(6).parent == 1 && byId(6).traceId == 1)
    assert(byId(7).parent == Span.Root && byId(7).traceId == 0)
  }

  test("coverage counts the op's children, leaf coverage only spans without children") {
    val spans = Seq(
      span(1, Span.Root, 0, 100),
      span(2, 1, 0, 90), // module span
      span(3, 2, 10, 30), span(4, 2, 20, 50), // leaves, overlapping
      span(5, 2, 60, 80), span(6, 5, 60, 70)) // 6 is a leaf, 5 is not
    val view = new TraceView(spans)
    assert(view.coverage == 0.9)
    assert(view.leafCoverage == (40 + 10) / 100.0)
  }

  test("tracer nests spans under ops and records nothing when off") {
    val on = new Tracer(true)
    on.op("op") { on.span("a") { on.span("b")(()) }; on.span("c")(()) }
    val view = new TraceView(on.spans)
    val byName = view.spans.map(s => s.name -> s).toMap
    assert(byName("a").parent == byName("op").id)
    assert(byName("b").parent == byName("a").id)
    assert(byName("c").parent == byName("op").id)
    assert(view.spans.forall(_.traceId == 1))
    assert(view.roots.map(_.name) == Seq("op"))

    val off = new Tracer(false)
    off.op("op") { off.span("a")(()) }
    assert(off.spans.isEmpty)
  }
}
