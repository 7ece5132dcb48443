package qbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {

  test("self time is the span minus the union of its children, clipped to it") {
    // children overlap (10-20, 15-30) and one sticks out (90-120)
    assert(SelfTime.coveredNs((0L, 100L), Seq((10L, 20L), (15L, 30L), (90L, 120L))) == 30L)
    assert(SelfTime.selfNs((0L, 100L), Seq((10L, 20L), (15L, 30L), (90L, 120L))) == 70L)
    assert(SelfTime.selfNs((0L, 100L), Nil) == 100L)
    assert(SelfTime.selfNs((0L, 100L), Seq((0L, 100L), (20L, 40L))) == 0L)
    assert(SelfTime.selfNs((50L, 100L), Seq((0L, 10L))) == 50L)
  }

  test("tracer: nested spans get parents, and self times add up to the root") {
    val t = new Tracer(true)
    t.span("workload", "w") { _ =>
      t.span("op", "a") { _ => t.span("layer", "x")(_ => Thread.sleep(5)) }
      t.span("op", "b")(_ => Thread.sleep(5))
    }
    val spans = t.spans
    val byName = spans.map(s => s.name -> s).toMap
    assert(byName("x").parent == byName("a").id)
    assert(byName("a").parent == byName("w").id)
    assert(byName("w").parent == 0L)
    val self = t.selfSeconds(spans)
    val root = byName("w").durNs / 1e9
    assert(math.abs(self.values.sum - root) < 1e-6)
  }

  test("an untraced tracer records nothing") {
    val t = new Tracer(false)
    val (v, dt) = t.span("op", "a")(_ => 42)
    assert(v == 42 && dt >= 0 && t.spans.isEmpty)
  }
}
