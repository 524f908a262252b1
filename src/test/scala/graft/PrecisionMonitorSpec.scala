package graft

import graft.operators.Quality
import graft.streaming.{MonitorReplay, PrecisionMonitor}
import graft.streaming.PrecisionMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming precision/recall at the shipped threshold: column-for-column
  * agreement with the batch prCurve row on identical window contents,
  * rollover, the floor alarm, and per-source independence.
  */
class PrecisionMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      thr: Int, pFloor: Long = 0L, rFloor: Long = 0L)(
      batches: Seq[Scored]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Scored, WinRow](spark, batches,
      ds => PrecisionMonitor.monitor(
        ds, thr, bins = 10,
        precisionFloorBp = pFloor, recallFloorBp = rFloor, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window confusion row equals the batch prCurve row at the shipped threshold") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 80).map { i =>
      val den = 10L + rnd.nextInt(30)
      (rnd.nextInt(den.toInt + 1).toLong, den, rnd.nextBoolean())
    }
    val thr = 4
    val out = run(thr)(
      rows.zipWithIndex.map { case ((n, d, y), i) => Scored("s", at(0, i), n, d, y) },
      Seq(Scored("s", at(1, 0), 1L, 2L, true)))
    assert(out.size == 1 && out.head.n_events == 80L)
    val batch = Quality.prCurve(rows.toDF("num", "den", "y"),
      col("num"), col("den"), col("y"))
      .filter(col("thr_bin") === thr)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    val m = out.head
    assert((m.tp, m.fp, m.fn) == ((batch._2, batch._3, batch._4)),
      s"masses ${(m.tp, m.fp, m.fn)} must equal batch ${(batch._2, batch._3, batch._4)}")
    assert(m.precision_bp == batch._5 && m.recall_bp == batch._6 && m.f1_bp == batch._7,
      "bp renderings must equal the batch row")
  }

  test("rollover emits per-window rows; a precision collapse trips the floor alarm") {
    // window 0: high scores, all true labels -> precision 10000
    // window 1: high scores, all false labels -> precision 0, alarm
    val good = (0 until 10).map(i => Scored("s", at(0, i), 9L, 10L, true))
    val bad = (0 until 10).map(i => Scored("s", at(1, i), 9L, 10L, false))
    val out = run(thr = 5, pFloor = 5000L)(
      good, bad, Seq(Scored("s", at(2, 0), 1L, 2L, true)))
    assert(out.size == 2)
    assert(out(0).precision_bp.contains(10000L) && !out(0).alarm)
    assert(out(1).precision_bp.contains(0L) && out(1).alarm)
  }

  test("sources are monitored independently; no-positive windows report null precision") {
    val out = run(thr = 5, pFloor = 5000L)(
      (0 until 5).map(i => Scored("calm", at(0, i), 9L, 10L, true)) ++
        (0 until 5).map(i => Scored("quiet", at(0, i), 1L, 10L, false)),
      Seq(Scored("calm", at(1, 0), 1L, 2L, true),
        Scored("quiet", at(1, 0), 1L, 2L, true)))
    val byS = out.groupBy(_.source)
    assert(!byS("calm").head.alarm)
    // "quiet" predicts nothing positive: precision null, recall null
    // (no labeled positives), and null must not trip the floor
    assert(byS("quiet").head.precision_bp.isEmpty && !byS("quiet").head.alarm)
  }
}
