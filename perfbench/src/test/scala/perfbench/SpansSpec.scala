package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  // one op: a root, a wrapped engine call, an execution inside it with
  // two overlapping jobs, and a stage in one job
  private val spans = Seq(
    Span(1, 1, 0, "client", "op", 0, 100),
    Span(2, 1, 1, "graft", "spark.sql", 10, 90),
    Span(3, 1, 2, "graft", "execution", 20, 80),
    Span(4, 1, 3, "spark", "job", 30, 50),
    Span(5, 1, 3, "spark", "job", 40, 60),
    Span(6, 1, 4, "spark", "stage", 35, 45))

  test("self time is duration minus the union of the children") {
    val self = Spans.selfTimes(spans)
    assert(self(1) == 20.0)
    assert(self(2) == 20.0)
    assert(self(3) == 30.0) // 60 minus the jobs' union 30..60
    assert(self(4) == 10.0)
    assert(self(5) == 20.0)
    assert(self(6) == 10.0)
  }

  test("self times add up per layer") {
    val byLayer = Spans.layerSelfTimes(spans)
    assert(byLayer == Map("client" -> 20.0, "graft" -> 50.0, "spark" -> 40.0))
  }

  test("a child reaching past its parent only covers the overlap") {
    val s = Seq(Span(1, 1, 0, "client", "op", 0, 10), Span(2, 1, 1, "spark", "job", 5, 15))
    assert(Spans.selfTimes(s)(1) == 5.0)
  }

  test("an unparented span hangs under the deepest span open at its start") {
    val bench = spans.take(2)
    assert(Spans.enclosing(bench, 15, fallback = 1) == 2)
    assert(Spans.enclosing(bench, 5, fallback = 1) == 1)
    assert(Spans.enclosing(bench, 500, fallback = 1) == 1)
  }
}
