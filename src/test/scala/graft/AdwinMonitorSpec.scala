package graft

import graft.streaming.{AdwinMonitor, MonitorReplay}
import graft.streaming.AdwinMonitor.{DayRow, Ev}
import java.sql.Timestamp

/** Streaming ADWIN: the exponential histogram loses no mass on a stable
  * stream (width tracks the day count exactly, no cuts), a level shift
  * cuts the window back to the new regime with no caller-fitted
  * reference, the adaptation CUSUM-style fixed references cannot do
  * (legitimate regrowth after a cut), and per-type independence.
  */
class AdwinMonitorSpec extends SparkSpec {
  import spark.implicits._

  private def at(day: Int, i: Int) =
    new Timestamp(day.toLong * 86400000L + i * 1000L)

  private def events(day: Int, n: Int, tpe: String = "click"): Seq[Ev] =
    (0 until n).map(i => Ev(tpe, at(day, i)))

  private def run(delta: Double)(batches: Seq[Ev]*): Seq[DayRow] =
    MonitorReplay.runStreamBatches[Ev, DayRow](spark, batches,
      ds => AdwinMonitor.monitor(ds, delta))
      .sortBy(r => (r.event_type, r.day))

  test("stable stream: width tracks the day count exactly, never cuts") {
    // 25 closed days of constant 10 — the exponential histogram merges
    // buckets but loses no mass: width == days closed, mean exact
    val days = (0 until 26).flatMap(d => events(d, if (d < 25) 10 else 1))
    val out = run(0.01)(days)
    assert(out.size == 25)
    assert(out.zipWithIndex.forall { case (r, i) => r.width == i + 1 })
    assert(out.forall(r => r.mean_bp == 100000L && !r.cut))
  }

  test("a level shift cuts the window back without any fitted reference") {
    val days = (0 until 15).flatMap(events(_, 10)) ++
      (15 until 30).flatMap(events(_, 50)) ++ events(30, 1)
    val out = run(0.01)(days)
    assert(out.size == 30)
    assert(out.exists(_.cut), "the shift must trigger at least one cut")
    val last = out.last
    // the surviving window sits in the new regime: shorter than the
    // full history and averaging near 50, not near the blended 30
    assert(last.width < 30)
    assert(last.mean_bp > 400000L)
    // before the shift nothing cuts
    assert(out.take(14).forall(!_.cut))
  }

  test("the window regrows after a cut — adaptation, not a fixed alarm") {
    val days = (0 until 10).flatMap(events(_, 10)) ++
      (10 until 24).flatMap(events(_, 50)) ++ events(24, 1)
    val out = run(0.01)(days)
    val cutDay = out.indexWhere(_.cut)
    assert(cutDay >= 10)
    // widths grow monotonically again after the last cut
    val afterLast = out.drop(out.lastIndexWhere(_.cut) + 1)
    assert(afterLast.zip(afterLast.tail).forall {
      case (a, b) => b.width == a.width + 1 })
  }

  test("types are monitored independently") {
    val days = (0 until 12).flatMap { d =>
      events(d, 10, "a") ++ events(d, if (d < 8) 10 else 60, "b")
    } ++ events(12, 1, "a") ++ events(12, 1, "b")
    val out = run(0.01)(days)
    val byType = out.groupBy(_.event_type)
    assert(byType("a").forall(!_.cut))
    assert(byType("b").exists(_.cut))
    assert(byType("a").last.width == 12)
  }

  test("delta outside (0, 1) is refused loudly") {
    intercept[IllegalArgumentException] {
      AdwinMonitor.monitor(spark.emptyDataset[Ev], delta = 0.0)
    }
  }

  test("a late event across batches folds into the open day: no early close, one row per day") {
    // the scaladoc's promise: an event from an already-closed day folds
    // into the CURRENT open day's count — day 1 closes once, with the
    // late event in it, and day 0 never emits a second row
    val out = run(0.01)(
      events(0, 10) ++ events(1, 9),
      Seq(Ev("click", at(0, 99))), // late: day 0 < open day 1
      events(2, 1)) // genuine advance closes day 1
    assert(out.map(r => (r.day, r.n, r.width)) == Seq((0L, 10L, 1L), (1L, 10L, 2L)))
    assert(out.forall(r => r.mean_bp == 100000L && !r.cut))
  }
}
