package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of the children") {
    val spans = Seq(
      Span(1, -1, "op-1", "bench", "topk", 0.0, 100.0),
      Span(2, 1, "op-1", "plans", "plan", 0.0, 20.0),
      Span(3, 1, "op-1", "ivf", "execute", 20.0, 100.0),
      Span(4, 3, "op-1", "spark", "job", 30.0, 60.0),
      Span(5, 3, "op-1", "spark", "job", 50.0, 90.0),
      Span(6, 4, "op-1", "spark", "stage", 30.0, 60.0))
    val self = Trace.selfTimeByLayer(spans)
    assert(self("bench") == 0.0)
    assert(self("plans") == 20.0)
    assert(self("ivf") == 80.0 - 60.0)
    // job 4 is covered by its stage; job 5 has no children
    assert(self("spark") == 0.0 + 40.0 + 30.0)
  }

  test("attach nests listener spans under the innermost container") {
    val client = Seq(
      Span(1, -1, "op-1", "bench", "append", 0.0, 100.0),
      Span(2, 1, "op-1", "streaming", "ingest", 5.0, 95.0))
    val detached = Seq(
      Span(10, -2, "", "streaming", "trigger", 10.0, 90.0),
      Span(11, -2, "", "spark", "job", 20.0, 50.0, ref = 7L),
      Span(12, -2, "", "spark", "stage", 21.0, 49.0, ref = 7L),
      Span(13, -2, "", "jvm", "gc", 30.0, 31.0),
      Span(14, -2, "", "spark", "job", 200.0, 210.0, ref = 8L))
    val out = Trace.attach(client ++ detached, Seq("trigger", "job", "stage", "gc"))
      .map(s => s.id -> s).toMap
    assert(out(10).parent == 2)
    assert(out(11).parent == 10 && out(11).trace == "op-1")
    assert(out(12).parent == 11)
    assert(out(13).parent == 12)
    assert(out(14).parent == -1)
  }

  test("the tracer nests client spans and records nothing when off") {
    val on = new Tracer(enabled = true)
    on.span("op-1", "bench", "topk")(on.span("op-1", "plans", "plan")(()))
    val spans = on.all
    assert(spans.size == 2)
    val outer = spans.find(_.name == "topk").get
    assert(spans.find(_.name == "plan").get.parent == outer.id)
    val off = new Tracer(enabled = false)
    assert(off.span("op-1", "bench", "topk")(42) == 42)
    assert(off.all.isEmpty)
  }

  test("spans serialize as one JSON object per line") {
    val line = Trace.toJsonLine(Span(3, 1, "op-\"1\"", "ivf", "execute", 1.5, 2.25))
    assert(!line.contains("\n"))
    val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(o.get("id").asInt == 3 && o.get("parent").asInt == 1)
    assert(o.get("trace").asText == "op-\"1\"" && o.get("layer").asText == "ivf")
    assert(o.get("name").asText == "execute")
    assert(o.get("start_ms").asDouble == 1.5 && o.get("end_ms").asDouble == 2.25)
  }
}
