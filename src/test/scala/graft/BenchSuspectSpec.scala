package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 focused spec for the host-factor-scaled suspect predicate
  * (VERDICT r16 #2): one definition of "this number is probably noise"
  * drives the artifact's suspect list, the targeted re-measure sweep and
  * the degraded flag, so its arithmetic gets its own test. The live
  * injected-regression check (q109 at 3× rounds on a scratch edit
  * entered the sweep; 11.76 s vs best 5.21 flags at factor 1, absorbs at
  * the measured 1.48) is recorded in OPTIMIZATION_r17.md. */
class BenchSuspectSpec extends AnyFunSuite {

  private val history = Map("qa" -> 5.0, "qb" -> 2.0, "qc" -> 0.4)

  test("factor 1 keeps the pre-r17 predicate: > 2x best and > 1 s") {
    val res = Map("qa" -> 11.0, "qb" -> 3.9, "qc" -> 0.9, "qd" -> 50.0)
    // qa 2.2x flags; qb 1.95x does not; qc is above 2x but under the 1 s
    // absolute floor; qd has no history
    assert(Bench.suspectsOf(res, history, 1.0) == Seq("qa"))
  }

  test("a uniform host band under the factor no longer flags") {
    // the r16 failure mode: everything ~2.2x best on a slow host
    val res = Map("qa" -> 11.0, "qb" -> 4.4)
    assert(Bench.suspectsOf(res, history, 1.0).size == 2)
    assert(Bench.suspectsOf(res, history, 1.7).isEmpty)
  }

  test("a real outlier still flags through the loosened bar") {
    // 4x best stands out even on a 1.7x host (bar = 3.4x)
    val res = Map("qa" -> 20.0, "qb" -> 4.4)
    assert(Bench.suspectsOf(res, history, 1.7) == Seq("qa"))
  }

  test("the session-floor bar absorbs additive floor inflation") {
    // sub-second-best queries on a slow session: 0.3 s best reading
    // 1.4 s is 4.7x — multiplicatively damning, additively just the
    // session's per-query floor. With floorBar = 2x a measured 0.7 s
    // floor they clear; a genuinely slow 3.1 s entry still flags.
    val h = Map("qf" -> 0.3, "qg" -> 0.35, "qh" -> 0.3)
    val res = Map("qf" -> 1.4, "qg" -> 1.3, "qh" -> 3.1)
    assert(Bench.suspectsOf(res, h, 1.5).size == 3)            // old bar
    assert(Bench.suspectsOf(res, h, 1.5, 1.4) == Seq("qh"))    // floor bar
    // the floor bar never drops below the historical 1 s absolute arm
    val tiny = Map("qf" -> 1.2)
    assert(Bench.suspectsOf(tiny, h, 1.0, 0.4) == Seq("qf"))
  }

  test("even-sized calibration samples take the lower, bar-tightening middle") {
    // the upper middle (sorted(size/2)) loosened the bar on every
    // even-sized sample; both calibrations only loosen as they grow
    assert(Bench.lowerMedian(Seq(1.8, 1.2)) == 1.2)
    assert(Bench.lowerMedian(Seq(0.9, 0.4, 0.7, 0.5)) == 0.5)
    assert(Bench.lowerMedian(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("a 6x regression flags whatever the host factor and floor bar say") {
    // 0.3 s best reading 1.9 s (6.3x): under the widest factor (3) and
    // floor bar (2 s) the scaled arm absorbs it; the ratio ceiling does not
    val h = Map("qf" -> 0.3, "qg" -> 0.3, "qt" -> 0.1)
    val res = Map("qf" -> 1.9, "qg" -> 1.7, "qt" -> 0.7)
    // qg is 5.7x (under the ceiling); qt is 7x but under the 1 s floor
    assert(Bench.suspectsOf(res, h, 3.0, 2.0) == Seq("qf"))
  }

  test("a host factor above the threshold warns") {
    assert(Bench.hostFactorWarning(1.72).isEmpty)
    assert(Bench.hostFactorWarning(Bench.HostFactorWarnAbove).isEmpty)
    val w = Bench.hostFactorWarning(2.27)
    assert(w.exists(_.contains("host_factor 2.27")), w)
  }
}
