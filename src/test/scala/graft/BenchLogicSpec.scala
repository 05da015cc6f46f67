package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{attested, attestedClean, headlineIndex, PassStat, scheduleOrder}

/** Unit pins for the bench artifact's headline-selection and
  * attestation rules (round-10) — pure logic, no Spark. These encode
  * the three honesty contracts the JSON artifact rests on:
  *  1. `value` = min over CLEAN passes only;
  *  2. with no clean pass, a crash-shortened pass can never become
  *     the headline (fewest failures, then LARGEST total);
  *  3. the min must be attested by a second clean reading within 15%
  *     or the harness keeps running bounded extra passes.
  */
class BenchLogicSpec extends AnyFunSuite {

  private def clean(v: Double) = PassStat(v, 0)
  private def dirty(v: Double, n: Int = 1) = PassStat(v, n)

  test("attested: two clean readings within 15% of the min") {
    assert(attested(Seq(clean(70), clean(72))))
    assert(attested(Seq(clean(72), clean(70)))) // order-free
    assert(!attested(Seq(clean(70), clean(90))), "28% spread")
    assert(attested(Seq(clean(70), clean(90), clean(73))),
      "a third reading can attest the min the pair could not")
  }

  test("attested: a lone clean pass (or none) attests nothing") {
    assert(!attested(Seq(clean(70))))
    assert(!attested(Seq.empty))
    assert(!attested(Seq(clean(70), dirty(71))),
      "a dirty pass cannot corroborate — its total is untrustworthy")
    assert(!attested(Seq(dirty(70), dirty(71))))
  }

  test("attestedClean: a repeatable reading from a dirty window is NOT attested (round-12, verdict item 2)") {
    val agree = Seq(clean(95), clean(98))
    // the BENCH_r11 shape: passes agree within 15% but the window was
    // contended with canary_post 4.42 — spread-attestation alone let
    // it ship attested:true
    assert(!attestedClean(agree, contended = true,
      canaryPost = 4.42, extCpu = 0.0))
    // each dirty-window signal vetoes independently
    assert(!attestedClean(agree, contended = false,
      canaryPost = 1.30 * 1.26, extCpu = 0.0), "canary_post over band")
    assert(!attestedClean(agree, contended = false,
      canaryPost = 1.30, extCpu = 0.06), "external CPU competitor")
    // clean window + agreeing passes = attested
    assert(attestedClean(agree, contended = false,
      canaryPost = 1.35, extCpu = 0.01))
    // a clean window cannot rescue disagreeing passes
    assert(!attestedClean(Seq(clean(70), clean(90)), contended = false,
      canaryPost = 1.30, extCpu = 0.0))
  }

  test("headline: min over clean passes, ignoring dirty totals entirely") {
    assert(headlineIndex(Seq(clean(80), clean(70), clean(90))) == 1)
    // a SMALLER dirty total must not win — it may be crash-shortened
    assert(headlineIndex(Seq(dirty(40), clean(80))) == 1)
  }

  test("headline with no clean pass: fewest failures, then LARGEST total (crash-shortened passes can never win)") {
    // the round-9 ADVICE shape: every pass dirty, one shortened by an
    // early crash — min would crown the 50 s pass
    assert(headlineIndex(Seq(dirty(50), dirty(80))) == 1)
    // fewest-failures tier first, then max within it
    assert(headlineIndex(Seq(dirty(95, 3), dirty(60, 1), dirty(75, 1))) == 2)
  }

  test("qsum: sums per-query seconds, skipping the -1 failure sentinels (round-11, verdict item 3)") {
    assert(Bench.qsumOf(Seq(1.5, 2.5, 4.0)) == 8.0)
    // a failed query records -1.0 — it must not SUBTRACT from the
    // code-side ground truth (the artifact's failed list carries it)
    assert(Bench.qsumOf(Seq(1.5, -1.0, 2.5)) == 4.0)
    assert(Bench.qsumOf(Nil) == 0.0)
    // zero is a legitimate (sub-millisecond, rounded) time, not a flag
    assert(Bench.qsumOf(Seq(0.0, 3.0)) == 3.0)
  }

  test("scheduleOrder: heaviest warm time first, ties by name, failed queries last") {
    val warm = Seq("q_b" -> 1.0, "q_fail2" -> -1.0, "q_a" -> 1.0,
      "q_slow" -> 9.5, "q_fail1" -> -1.0, "q_fast" -> 0.01)
    assert(scheduleOrder(warm) ===
      Seq("q_slow", "q_a", "q_b", "q_fast", "q_fail1", "q_fail2"))
    assert(scheduleOrder(warm.reverse) === scheduleOrder(warm), "input order is irrelevant")
    assert(scheduleOrder(Nil).isEmpty)
  }
}
