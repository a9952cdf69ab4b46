package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.Fixpoint

class FixpointSpec extends AnyFunSuite {

  test("a step that reports done on round k runs exactly k times") {
    for (k <- 1 to 5) {
      var calls = 0
      val out = Fixpoint.run(0, maxRounds = 10, "unreachable") { s =>
        calls += 1
        (s + 1, s + 1 == k)
      }
      assert(calls == k && out == k)
    }
  }

  test("reaching the cap throws with the caller's message") {
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      Fixpoint.run(0, maxRounds = 4, "widget peeling did not converge in 4 rounds") { s =>
        calls += 1
        (s + 1, false)
      }
    }
    assert(calls == 4)
    assert(e.getMessage.contains("widget peeling did not converge in 4 rounds"))
    // converging on the last allowed round is not a cap failure
    assert(Fixpoint.run(0, maxRounds = 4, "capped")(s => (s + 1, s + 1 == 4)) == 4)
  }

  test("iterate returns the state and a not-converged flag at the cap") {
    var calls = 0
    val (s, converged) = Fixpoint.iterate("", maxRounds = 3) { s =>
      calls += 1
      (s + "x", false)
    }
    assert(calls == 3 && s == "xxx" && !converged)
    assert(Fixpoint.iterate(0, maxRounds = 3)(s => (s + 1, true)) == ((1, true)))
    // no rounds allowed: the initial state, not converged
    assert(Fixpoint.iterate(7, maxRounds = 0)(s => (s + 1, true)) == ((7, false)))
  }
}
