package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timeReps`, the rep loop behind the bench total: a query that
  * throws is a failure, never a timing. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query lands in failed and adds nothing to total") {
    var reps = 0
    val t = Bench.timeReps(3, Seq("ok", "boom"), () => reps += 1) {
      case "ok" => Thread.sleep(5)
      case "boom" =>
        Thread.sleep(50)
        throw new IllegalStateException("query failed")
    }
    assert(reps === 3)
    assert(t.failed === Seq("boom"))
    assert(t.best.keySet === Set("ok") && t.ambient.keySet === Set("ok"))
    assert(t.best("ok") >= 0.005)
    // the 50 ms the failing query burned before it threw is not counted
    assert(t.total === t.best("ok"))
  }

  test("a query that fails in one rep only records no time either") {
    var rep = 0
    val t = Bench.timeReps(2, Seq("flaky"), () => rep += 1) { _ =>
      if (rep == 2) throw new IllegalStateException("second rep failed")
    }
    assert(t.failed === Seq("flaky"))
    assert(t.best.isEmpty && t.total === 0.0)
  }
}
