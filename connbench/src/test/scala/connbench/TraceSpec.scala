package connbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      Span(1, -1, 1, "op.job", 0, 100),
      Span(2, 1, 1, "connector.write", 10, 40),
      Span(3, 1, 1, "store.commit", 30, 60), // overlaps its sibling
      Span(4, 2, 1, "store.stage", 15, 25))
    val self = Trace.selfTimesNs(spans)
    assert(self == Map(1 -> 50L, 2 -> 20L, 3 -> 30L, 4 -> 10L))
    assert(Trace.selfSecondsByLayer(spans) ==
      Map("op" -> 50e-9, "connector" -> 20e-9, "store" -> 40e-9))
  }

  test("nested spans record their parent and share the operation id") {
    val t = new Tracer(true)
    val op = t.newOp()
    t.span("op.x", op) { t.span("store.y")(()) }
    t.span("op.z", t.newOp())(())
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("store.y").parent == byName("op.x").id)
    assert(byName("store.y").op == op && byName("op.x").op == op)
    assert(byName("op.z").parent == -1 && byName("op.z").op != op)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("op.x")(42) == 42)
    assert(t.all.isEmpty)
  }
}
