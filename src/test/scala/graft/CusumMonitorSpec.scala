package graft

import graft.streaming.{CusumMonitor, MonitorReplay}
import graft.streaming.CusumMonitor.{DayRow, Ev}
import java.sql.Timestamp

/** Streaming CUSUM: day-rollover emission, sum accumulation across
  * micro-batches, the sustained-shift alarm, and per-type independence.
  */
class CusumMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def at(day: Int, i: Int) =
    new Timestamp(day.toLong * 86400000L + i * 1000L)

  private def events(day: Int, n: Int, tpe: String = "click"): Seq[Ev] =
    (0 until n).map(i => Ev(tpe, at(day, i)))

  // mu = 10, slack 1, threshold 8
  private def run(batches: Seq[Ev]*): Seq[DayRow] =
    MonitorReplay.runStreamBatches[Ev, DayRow](spark, batches,
      ds => CusumMonitor.monitor(ds, mu = 10.0, slack = 1.0, threshold = 8.0))
      .sortBy(r => (r.event_type, r.day))

  test("days emit on rollover with hand-computed sums") {
    val out = run(events(0, 10) ++ events(1, 15) ++ events(2, 1))
    // day0 closes when day1 arrives: c=10 -> sUp = max(0, 10-10-1) = 0
    // day1 closes at day2: c=15 -> sUp = max(0, 0 + 4) = 4
    assert(out.map(r => (r.day, r.n, r.s_up)) ==
      Seq((0L, 10L, 0.0), (1L, 15L, 4.0)))
    assert(out.forall(!_.alarm))
  }

  test("sums accumulate across micro-batches and trip the alarm") {
    // sustained +5 shift: each day adds 4 to sUp; crosses h=8 on day 3
    val out = run(
      events(0, 15) ++ events(1, 15),
      events(2, 15) ++ events(3, 15),
      events(4, 1))
    assert(out.map(_.s_up) == Seq(4.0, 8.0, 12.0, 16.0))
    assert(out.map(_.alarm) == Seq(false, false, true, true))
  }

  test("downward shifts accumulate on the other side") {
    val out = run(events(0, 2) ++ events(1, 2) ++ events(2, 2) ++ events(3, 1))
    // each closed day: sDown += 10 - 2 - 1 = 7 -> 7, 14 (alarm)
    assert(out.map(_.s_down) == Seq(7.0, 14.0, 21.0))
    assert(out.map(_.alarm) == Seq(false, true, true))
  }

  test("types are monitored independently") {
    val out = run(
      events(0, 20, "a") ++ events(0, 2, "b") ++
        events(1, 1, "a") ++ events(1, 1, "b"))
    val byType = out.groupBy(_.event_type)
    assert(byType("a").head.s_up == 9.0 && byType("a").head.s_down == 0.0)
    assert(byType("b").head.s_up == 0.0 && byType("b").head.s_down == 7.0)
  }

  test("a late event across batches folds into the open day: no early close, one row per day") {
    // batch 1 closes day 0 and opens day 1; batch 2 delivers one event
    // stamped on the already-closed day 0 — it must count toward open
    // day 1, not close day 1 early and reopen day 0 for a second row
    val out = run(
      events(0, 10) ++ events(1, 14),
      Seq(Ev("click", at(0, 99))), // late: day 0 < open day 1
      events(2, 1)) // genuine advance closes day 1
    // day 1 closes with c = 15: sUp = max(0, 0 + 15 - 10 - 1) = 4
    assert(out.map(r => (r.day, r.n, r.s_up)) ==
      Seq((0L, 10L, 0.0), (1L, 15L, 4.0)))
  }
}
