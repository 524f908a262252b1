package graft

import graft.streaming.{MonitorReplay, PageHinkleyMonitor}
import graft.streaming.PageHinkleyMonitor.{DayRow, Ev}
import java.sql.Timestamp

/** Streaming Page–Hinkley: day-rollover emission, running-minimum
  * geometry (the property CUSUM's zero-clamp lacks), hand-computed
  * sums across micro-batches, the drift alarm, per-type independence,
  * and the slow-drift case where PH fires and a same-λ CUSUM run is
  * repeatedly clamped away.
  */
class PageHinkleyMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def at(day: Int, i: Int) =
    new Timestamp(day.toLong * 86400000L + i * 1000L)

  private def events(day: Int, n: Int, tpe: String = "click"): Seq[Ev] =
    (0 until n).map(i => Ev(tpe, at(day, i)))

  private def run(mu: Double, delta: Double, lambda: Double)(
      batches: Seq[Ev]*): Seq[DayRow] =
    MonitorReplay.runStreamBatches[Ev, DayRow](spark, batches,
      ds => PageHinkleyMonitor.monitor(ds, mu, delta, lambda))
      .sortBy(r => (r.event_type, r.day))

  test("days emit on rollover with hand-computed PH values") {
    // mu=10, delta=1: day0 c=10 -> m=-1, min=-1, PH=0
    // day1 c=15 -> m=3, min=-1, PH=4; day2 closes nothing (still open)
    val out = run(10.0, 1.0, 8.0)(
      events(0, 10) ++ events(1, 15) ++ events(2, 1))
    assert(out.map(r => (r.day, r.n, r.ph_up)) ==
      Seq((0L, 10L, 0.0), (1L, 15L, 4.0)))
    assert(out.forall(!_.alarm))
  }

  test("PH accumulates across micro-batches and trips on sustained shift") {
    // sustained c=15 vs mu=10, delta=1: m grows +4/day from min 0 ->
    // PH = 4, 8, 12, 16; alarm (> 8) on days 2 and 3
    val out = run(10.0, 1.0, 8.0)(
      events(0, 15) ++ events(1, 15),
      events(2, 15) ++ events(3, 15),
      events(4, 1))
    assert(out.map(_.ph_up) == Seq(4.0, 8.0, 12.0, 16.0))
    assert(out.map(_.alarm) == Seq(false, false, true, true))
  }

  test("downward drift grows the mirrored side") {
    // c=2 vs mu=10, delta=1: mDown += 7/day -> PH_down 7, 14, 21
    val out = run(10.0, 1.0, 8.0)(
      events(0, 2) ++ events(1, 2) ++ events(2, 2) ++ events(3, 1))
    assert(out.map(_.ph_down) == Seq(7.0, 14.0, 21.0))
    assert(out.map(_.alarm) == Seq(false, true, true))
  }

  test("the running minimum is remembered: a dip then recovery measures from the dip") {
    // mu=10, delta=0: counts 5, 5, 12, 12 -> m: -5, -10, -8, -6
    // min reaches -10; PH_up on the last closed day = -6 - (-10) = 4,
    // even though the cumulative sum never went above zero — the
    // geometry a zero-clamped CUSUM cannot express
    val out = run(10.0, 0.0, 100.0)(
      events(0, 5) ++ events(1, 5) ++ events(2, 12) ++
        events(3, 12) ++ events(4, 1))
    assert(out.map(_.ph_up) == Seq(0.0, 0.0, 2.0, 4.0))
  }

  test("types are monitored independently") {
    val out = run(10.0, 1.0, 8.0)(
      events(0, 20, "a") ++ events(0, 2, "b") ++
        events(1, 1, "a") ++ events(1, 1, "b"))
    val byType = out.groupBy(_.event_type)
    assert(byType("a").head.ph_up == 9.0 && byType("a").head.ph_down == 0.0)
    assert(byType("b").head.ph_up == 0.0 && byType("b").head.ph_down == 7.0)
  }

  test("a late event across batches folds into the open day: no early close, one row per day") {
    // batch 2's event is stamped on day 0, already closed by batch 1: it
    // counts toward open day 1 instead of emitting a partial day 1 row
    // and reopening day 0 for a second one
    val out = run(10.0, 1.0, 8.0)(
      events(0, 10) ++ events(1, 14),
      Seq(Ev("click", at(0, 99))), // late: day 0 < open day 1
      events(2, 1)) // genuine advance closes day 1
    // day0 c=10 -> m=-1, PH=0; day1 c=15 -> m=3, min=-1, PH=4
    assert(out.map(r => (r.day, r.n, r.ph_up)) ==
      Seq((0L, 10L, 0.0), (1L, 15L, 4.0)))
  }
}
