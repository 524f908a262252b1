package graft

import graft.streaming.{MonitorReplay, SprtMonitor}
import graft.streaming.SprtMonitor.{Trial, WinRow}
import java.sql.Timestamp

/** Streaming SPRT: hand-computed LLR agreement, Wald-boundary decisions
  * in both directions with post-decision reset, and per-source
  * independence.
  */
class SprtMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      p0: Double, p1: Double)(batches: Seq[Trial]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Trial, WinRow](spark, batches,
      ds => SprtMonitor.monitor(
        ds, p0, p1, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window LLR equals the Bernoulli closed form, continue inside the boundaries") {
    val (p0, p1) = (0.2, 0.3)
    // 4 passes, 6 fails: llr well inside Wald's boundaries for 5% errors
    val evs = (0 until 10).map(i => Trial("s", at(0, i), i < 4))
    val out = run(p0, p1)(evs, Seq(Trial("s", at(1, 0), true)))
    assert(out.size == 1 && out.head.n_trials == 10L && out.head.n_pass == 4L)
    val expected = 4 * math.log(p1 / p0) + 6 * math.log((1 - p1) / (1 - p0))
    assert(out.head.llr == math.floor(expected * 10000 + 0.5) / 10000)
    assert(out.head.decision == "continue" && !out.head.alarm)
  }

  test("a drifted rate rejects H0 and resets; the fresh test continues") {
    // p0=0.1 vs p1=0.5: each pass adds ln(5)=1.609; upper = ln(19)=2.944
    val out = run(0.1, 0.5)(
      (0 until 5).map(i => Trial("s", at(0, i), true)),
      Seq(Trial("s", at(1, 0), false)),
      Seq(Trial("s", at(2, 0), false)))
    assert(out.size == 2)
    assert(out(0).decision == "reject_h0" && out(0).alarm && out(0).n_trials == 5L)
    // counters reset after the decision: window 1 starts a fresh test
    assert(out(1).n_trials == 1L && out(1).n_pass == 0L)
    assert(out(1).decision == "continue" && !out(1).alarm)
  }

  test("an on-target rate accepts H0 without alarm") {
    // all fails under p0=0.1 vs p1=0.5: each adds ln(0.5/0.9) = -0.588;
    // lower = ln(1/19) = -2.944 -> accepted after 6
    val out = run(0.1, 0.5)(
      (0 until 6).map(i => Trial("s", at(0, i), false)),
      Seq(Trial("s", at(1, 0), false)))
    assert(out.size == 1)
    assert(out.head.decision == "accept_h0" && !out.head.alarm)
  }

  test("a late event across batches clamps into the current window: no close, no partial-evidence decision") {
    // batch 1 opens window 1 with 4 passes (llr inside the boundaries);
    // batch 2 delivers one LATE pass stamped in window 0 — pre-clamp this
    // closed-and-reopened window 1, emitting a premature row (and at the
    // boundary, a decision on partial evidence); now it must count as a
    // 5th trial of the open window instead
    val out = run(0.1, 0.5)(
      (0 until 4).map(i => Trial("s", at(1, i), true)),
      Seq(Trial("s", at(0, 0), true)), // late: window 0 < open window 1
      Seq(Trial("s", at(2, 0), false))) // genuine advance closes window 1
    assert(out.size == 1, s"exactly one emission expected, got $out")
    assert(out.head.window_start == 1L * HourMs)
    // all 5 passes (4 in-order + 1 clamped) in one window: llr = 5*ln(5)
    // crosses upper = ln(19) -> the decision rests on the FULL evidence
    assert(out.head.n_trials == 5L && out.head.n_pass == 5L)
    assert(out.head.decision == "reject_h0" && out.head.alarm)
  }

  test("sources run independent tests") {
    val out = run(0.1, 0.5)(
      (0 until 5).map(i => Trial("hot", at(0, i), true)) ++
        (0 until 6).map(i => Trial("calm", at(0, i), false)),
      Seq(Trial("hot", at(1, 0), false), Trial("calm", at(1, 0), false)))
    val byS = out.groupBy(_.source)
    assert(byS("hot").head.alarm && byS("hot").head.decision == "reject_h0")
    assert(!byS("calm").head.alarm && byS("calm").head.decision == "accept_h0")
  }
}
