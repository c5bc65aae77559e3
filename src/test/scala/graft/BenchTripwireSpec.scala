package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench regression tripwire's gate logic ([[Bench.regressions]])
  * — including the r9 lesson: a contended first observation must be
  * clearable by the end-of-run re-time (min) before it reaches stdout.
  */
class BenchTripwireSpec extends AnyFunSuite {

  private val base = Map("q_a" -> 1.0, "q_b" -> 0.4, "q_c" -> 3.0)

  test("a seeded slowdown past 2x and 1s absolute growth fires") {
    val flagged = Bench.regressions(Seq("q_a" -> 2.6), base)
    assert(flagged == Seq(("q_a", 2.6, 1.0)))
  }

  test("exactly 2x, or under 1s absolute growth, stays silent") {
    // 2x but not >2x
    assert(Bench.regressions(Seq("q_a" -> 2.0), base).isEmpty)
    // >2x but only 0.6s absolute growth (the sub-second noise band)
    assert(Bench.regressions(Seq("q_b" -> 1.0), base).isEmpty)
  }

  test("queries without a committed baseline are ignored") {
    assert(Bench.regressions(Seq("q_new" -> 99.0), base).isEmpty)
  }

  test("worst absolute growth sorts first") {
    val flagged = Bench.regressions(
      Seq("q_a" -> 3.0, "q_c" -> 9.0), base)
    assert(flagged.map(_._1) == Seq("q_c", "q_a"))
  }

  test("a contention false positive clears when the re-time min is taken") {
    // first pass flags q_a at 2.6s; the idle re-time lands at baseline
    val candidates = Bench.regressions(Seq("q_a" -> 2.6), base)
    assert(candidates.nonEmpty)
    val retimed = candidates.map { case (k, v, _) =>
      k -> math.min(v, 0.9) } // idle third pass
    assert(Bench.regressions(retimed, base).isEmpty)
  }

  test("a real regression survives the re-time pass") {
    val candidates = Bench.regressions(Seq("q_a" -> 4.0), base)
    val retimed = candidates.map { case (k, v, _) =>
      k -> math.min(v, 3.8) } // still slow when idle
    assert(Bench.regressions(retimed, base) == Seq(("q_a", 3.8, 1.0)))
  }

  test("foldRetimes: map and tripwire carry the SAME folded values") {
    // r14's artifact self-contradiction: the tripwire reported the
    // post-retime min while the queries map kept the pre-retime one.
    // q_a is a contention false positive (retime clears it), q_c a
    // real regression (retime still slow) — the reported map must
    // carry the folded min for BOTH, and every tripwire row must
    // equal the map's value for its key.
    val measured = Map("q_a" -> 2.6, "q_b" -> 0.4, "q_c" -> 9.0)
    val retimes = Map("q_a" -> 0.9, "q_c" -> 8.5)
    val (folded, rows) = Bench.foldRetimes(measured, base, retimes)
    assert(folded == Map("q_a" -> 0.9, "q_b" -> 0.4, "q_c" -> 8.5))
    assert(rows == Seq(("q_c", 8.5, 3.0))) // q_a cleared, q_c survives
    rows.foreach { case (k, v, _) => assert(folded(k) == v) }
    // unflagged rows are never retimed (the retime map would throw)
    val (f2, r2) = Bench.foldRetimes(Map("q_b" -> 0.5), base,
      (_: String) => fail("retimed an unflagged row"))
    assert(f2 == Map("q_b" -> 0.5) && r2.isEmpty)
  }

  test("deltaCounts: whole-map classification with 10% boundaries") {
    // r18's PERF comparison read the stdout slowest-window and
    // manufactured 28 phantom "dropped" rows; the delta_full line
    // classifies EVERY common query. Boundaries: exactly 0.9× and
    // exactly 1.1× count as within (strict < / >).
    val b = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0, "q_d" -> 2.0)
    val (common, faster, within, slower) = Bench.deltaCounts(
      Seq("q_a" -> 0.89, "q_b" -> 0.9, "q_c" -> 1.11, "q_d" -> 2.2,
        "q_new" -> 5.0), b)
    assert(common == 4) // q_new has no baseline
    assert(faster == 1) // q_a (0.89); q_b sits exactly ON 0.9 → within
    assert(within == 2) // q_b, and q_d (2.2/2.0 is exactly double 1.1)
    assert(slower == 1) // q_c (1.11 > 1.1)
  }

  test("deltaCounts: a failed query's time-to-crash is in no speed class") {
    val b = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0)
    // q_a crashed after 0.1 s, q_b after 5 s: neither is a speed
    val (common, faster, within, slower) = Bench.deltaCounts(
      Seq("q_a" -> 0.1, "q_b" -> 5.0, "q_c" -> 1.0), b,
      failed = Set("q_a", "q_b"))
    assert(common == 3)
    assert(faster == 0, "a crash was classed as faster")
    assert(within == 1) // q_c
    assert(slower == 0, "a crash was classed as slower")
    assert(common - faster - within - slower == 2) // the failed count
  }

  test("a focus selection with an unknown name is rejected, not run empty") {
    // a typo used to filter every query out and print a clean-looking
    // "value":0.000,"n":0 report
    val typo = SparkEntry.select("q_sql_q1x,q_graph_hub", Bench.runnable)
    assert(typo == Left("unknown query in selection: q_sql_q1x"))
    // trimmed, empties dropped; the proxy rows are selectable too
    assert(SparkEntry.select(" q_sql_q1 ,, q_dedup_minhash_16x ",
      Bench.runnable) == Right(Set("q_sql_q1", "q_dedup_minhash_16x")))
  }
}
