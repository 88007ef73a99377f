package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def sp(id: Int, parent: Int, name: String, start: Long, end: Long) =
    Span(id, parent, name, 0L, start, end)

  test("self time is duration minus the children's coverage") {
    val spans = Seq(
      sp(1, 0, "bench.run", 0, 100),
      sp(2, 1, "index.build", 10, 40),
      sp(3, 2, "index.job", 15, 25),
      sp(4, 1, "query.search", 50, 90))
    val self = SelfTime.of(spans)
    assert(self == Map(1 -> 30.0, 2 -> 20.0, 3 -> 10.0, 4 -> 40.0))
    assert(SelfTime.byLayer(spans) ==
      Map("bench" -> 30e-9, "index" -> 30e-9, "query" -> 40e-9))
  }

  test("overlapping children share each instant, and self times sum to the root") {
    val spans = Seq(
      sp(1, 0, "index.build", 0, 100),
      sp(2, 1, "index.job.a", 0, 60),
      sp(3, 1, "index.job.b", 20, 80))
    val self = SelfTime.of(spans)
    // 0-20: a alone; 20-60: a and b split; 60-80: b alone; 80-100: parent
    assert(self == Map(1 -> 20.0, 2 -> 40.0, 3 -> 40.0))
    assert(self.values.sum == 100.0)
  }

  test("children are clamped to the parent; empty spans own nothing") {
    val spans = Seq(
      sp(1, 0, "bench.run", 10, 50),
      sp(2, 1, "index.job", 0, 30), // started before its caller
      sp(3, 1, "query.x", 40, 40),
      sp(4, 1, "query.y", 45, 70)) // ends after it
    val self = SelfTime.of(spans)
    assert(self == Map(1 -> 15.0, 2 -> 20.0, 3 -> 0.0, 4 -> 5.0))
    assert(self.values.sum == 40.0)
  }

  test("the tracer nests spans and inherits request ids") {
    val t = new Tracer(enabled = true)
    val r = t.newRequest()
    t.span("bench.run", r) { t.span("index.a")(()); t.span("query.b", 99)(()) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("index.a").parent == byName("bench.run").id)
    assert(byName("index.a").request == r)
    assert(byName("query.b").request == 99)
    assert(SelfTime.of(t.spans).values.sum == byName("bench.run").durNs.toDouble)
    val off = new Tracer(enabled = false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }
}
