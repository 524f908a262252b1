package graft

import graft.operators.Quality
import graft.streaming.{CalibrationMonitor, MonitorReplay}
import graft.streaming.CalibrationMonitor.{Pred, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming calibration: row-term parity with the batch report's exact
  * integer quantities, basis-point ECE/Brier agreement with the batch
  * summary on identical window contents, rollover + cumulative, the ECE
  * alarm, and per-source independence.
  */
class CalibrationMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      bins: Int = 10, ceiling: Long = 10001L)(
      batches: Seq[Pred]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Pred, WinRow](spark, batches,
      ds => CalibrationMonitor.monitor(
        ds, bins, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("rowTerms equals the batch report's integer quantities") {
    val rows = Seq((1L, 4L, false), (3L, 4L, true), (4L, 4L, true),
      (0L, 5L, false), (7L, 9L, true), (39L, 40L, false))
    val batch = Quality.calibrationReport(
      rows.toDF("num", "den", "y"), col("num"), col("den"), col("y"))
      .select(col("bin"), col("n"), col("score_q20_sum"), col("brier_q20_sum"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    // single-occupancy bins: the report row IS the row term
    rows.foreach { case (num, den, y) =>
      val (b, s20, b20) = CalibrationMonitor.rowTerms(num, den, y, 10)
      val (bs, bb) = batch(b.toLong)
      if (batch.size == rows.size) assert((s20, b20) == ((bs, bb)))
    }
  }

  test("window ECE and Brier agree with the batch summary to the basis point") {
    val rows = Seq((1L, 4L, false), (3L, 4L, true), (4L, 4L, true),
      (0L, 5L, false), (7L, 9L, true), (2L, 4L, false), (39L, 40L, true))
    val out = run()(
      rows.zipWithIndex.map { case ((n, d, y), i) => Pred("s", at(0, i), n, d, y) },
      Seq(Pred("s", at(1, 0), 1L, 2L, true)))
    assert(out.size == 1)
    val batch = Quality.calibrationSummary(
      rows.toDF("num", "den", "y"), col("num"), col("den"), col("y"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(out.head.n == batch._1 && out.head.n_pos == batch._2)
    assert(out.head.ece_bp == batch._3, "window ECE must equal the batch summary")
    assert(out.head.brier_bp == batch._4, "window Brier must equal the batch summary")
  }

  test("rollover, cumulative ECE, and the alarm") {
    // window 0: perfectly calibrated 0/1 scorer; window 1: inverted
    val good = (0 until 8).map(i => Pred("s", at(0, i),
      if (i % 2 == 0) 1L else 0L, 1L, i % 2 == 0))
    val bad = (0 until 8).map(i => Pred("s", at(1, i),
      if (i % 2 == 0) 1L else 0L, 1L, i % 2 != 0))
    val out = run(ceiling = 5000L)(good, bad, Seq(Pred("s", at(2, 0), 1L, 2L, true)))
    assert(out.size == 2)
    assert(out(0).ece_bp == 0L && !out(0).alarm && out(0).cum_ece_bp == 0L)
    assert(out(1).ece_bp == 10000L && out(1).alarm)
    assert(out(1).cum_ece_bp == 5000L, "cumulative blends both windows")
  }

  test("randomized windows agree with the batch summary (8 rounds)") {
    val rnd = new scala.util.Random(4242)
    for (round <- 0 until 8) {
      val rows = Seq.fill(30) {
        val den = 1L + rnd.nextInt(40)
        (rnd.nextInt(45).toLong - 2L, den, rnd.nextBoolean()) // clamps exercise
      }
      val out = run()(
        rows.zipWithIndex.map { case ((n, d, y), i) => Pred("s", at(0, i), n, d, y) },
        Seq(Pred("s", at(1, 0), 1L, 2L, true)))
      val batch = Quality.calibrationSummary(
        rows.toDF("num", "den", "y"), col("num"), col("den"), col("y"))
        .as[(Long, Long, Long, Long)].collect().head
      assert((out.head.n, out.head.n_pos, out.head.ece_bp, out.head.brier_bp)
        == batch, s"round $round")
    }
  }

  test("sources are monitored independently; zero-den rows drop") {
    val out = run(ceiling = 5000L)(
      Seq(Pred("p", at(0, 0), 1L, 1L, true), Pred("p", at(0, 1), 0L, 1L, false),
        Pred("q", at(0, 0), 1L, 1L, false), Pred("q", at(0, 1), 1L, 0L, true),
        Pred("p", at(1, 0), 1L, 1L, true), Pred("q", at(1, 0), 1L, 1L, true)))
    val byS = out.groupBy(_.source)
    assert(byS("p").head.ece_bp == 0L && !byS("p").head.alarm)
    // q's only valid row is a fully-wrong confident prediction
    assert(byS("q").head.n == 1L && byS("q").head.ece_bp == 10000L &&
      byS("q").head.alarm)
  }
}
