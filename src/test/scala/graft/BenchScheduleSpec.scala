package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Attempt, Report, Study}

/**
 * Pins the bench's fixed scaling schedule and how its headline is read:
 * the order of the attempts, how attempts pair into rounds, and which
 * rounds the median headline is taken over. Pure logic over plain
 * attempts, so no JVM is spawned.
 */
class BenchScheduleSpec extends AnyFunSuite {

  private val (lo, hi) = (2, 8)

  /** An attempt at `slot` of the schedule; 1M rows over `sec` seconds. */
  private def attempt(slot: Int, cpus: Int, sec: Double, steal: Double = 0.0) =
    Attempt(slot, cpus, 1000000L, sec, steal, 600.0, 1000.0, 600.0)

  /** Both attempts of round `r`, in the schedule's alternating order, with
   * efficiency `eff`: lo takes 100 s, hi 100 / (4 eff) s. */
  private def round(r: Int, eff: Double, steal: Double = 0.0): Seq[Attempt] = {
    val (first, second) = if (r % 2 == 0) (lo, hi) else (hi, lo)
    def sec(c: Int) = if (c == lo) 100.0 else 100.0 / (4 * eff)
    Seq(attempt(2 * r, first, sec(first), steal), attempt(2 * r + 1, second, sec(second), steal))
  }

  private def study(as: Seq[Attempt]) = Study(250000000L, lo, hi, as, partial = false)

  test("two rounds run lo,hi then hi,lo") {
    assert(Bench.ScalingRounds === 2)
    assert(Bench.schedule(lo, hi) === Seq(lo, hi, hi, lo))
  }

  test("a failed attempt leaves its round unpaired; pairs never cross rounds") {
    // slot 1 (round 0's hi) failed: slot 0's lo must not pair with slot 2's hi
    val as = Seq(attempt(0, lo, 100.0), attempt(2, hi, 30.0), attempt(3, lo, 110.0))
    val rounds = Bench.pairRounds(as)
    assert(rounds.size === 1)
    assert(rounds.head.lo === as(2) && rounds.head.hi === as(1))
    // slot 2 (round 1's hi) failed: round 0 still pairs
    val bs = Seq(attempt(0, lo, 100.0), attempt(1, hi, 30.0), attempt(3, lo, 110.0))
    assert(Bench.pairRounds(bs).map(r => (r.lo.slot, r.hi.slot)) === Seq((0, 1)))
  }

  test("a dirty round is left out of the median") {
    val s = study(round(0, 0.9) ++ round(1, 0.3, steal = 0.2) ++ round(2, 0.7))
    assert(s.rounds.size === 3)
    assert(s.headlineClean)
    assert(s.efficiency === Some(0.8))
    assert(s.efficiencyBest === Some(0.9))
    assert(s.pass === Some(true))
  }

  test("when every round is dirty the headline uses all rounds, flagged unclean") {
    val s = study(round(0, 0.6, steal = 0.1) ++ round(1, 0.8, steal = 0.1))
    assert(!s.headlineClean)
    assert(s.efficiency === Some(0.7))
    assert(s.efficiencyBest === Some(0.8))
    assert(s.pass === Some(false))
    assert(Bench.render(s.json).contains("\"headline_clean\":false"))
  }

  test("with no complete round the block is incomplete and scaling_pass is null") {
    val s = study(Seq(attempt(0, lo, 100.0), attempt(3, lo, 100.0)))
    assert(s.rounds.isEmpty && s.efficiency.isEmpty)
    val r = Report(32, "sf", Nil, Some(s))
    val full = Bench.render(r.full)
    assert(full.contains("\"incomplete\":true") && full.contains("\"rounds_executed\":0"))
    assert(!full.contains("\"efficiency\""))
    val summary = Bench.render(r.summary(1.0, "/out/BENCH_LOCAL.json"))
    assert(summary.contains("\"scaling_efficiency\":null"))
    assert(summary.contains("\"scaling_pass\":null"))
    assert(summary.contains("\"full\":\"/out/BENCH_LOCAL.json\""))
  }

  test("every suite name is a registered query and solo queries are in the suite") {
    val names = Bench.headline ++ Bench.secondary
    assert(names.filterNot(SparkEntry.queries.contains) === Nil)
    assert(Bench.solo.diff(names.toSet) === Set.empty)
  }
}
