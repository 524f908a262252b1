package graft

import graft.operators.Quality
import graft.streaming.{MonitorReplay, SpreadMonitor}
import graft.streaming.SpreadMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming variance-ratio: window-for-window parity with the batch
  * varianceRatioTest (q298), two-sided alarm (explosion AND collapse),
  * rollover + cumulative blend, per-source independence — the scale
  * family's live twin beside the KS/CvM/Kuiper location monitors.
  */
class SpreadMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def moments(ref: Seq[Long]): (Long, Long, Long) =
    (ref.length.toLong, ref.sum, ref.map(v => v * v).sum)

  private def run(
      ref: Seq[Long], ceiling: Double = 4.0)(
      batches: Seq[Scored]*): Seq[WinRow] = {
    val (n, s1, s2) = moments(ref)
    MonitorReplay.runStreamBatches[Scored, WinRow](spark, batches,
      ds => SpreadMonitor.monitor(
        ds, n, s1, s2, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))
  }

  test("window ratio equals the batch varianceRatioTest") {
    val ref = (0 until 100).map(i => (i % 20).toLong + 10)
    val window = (0 until 60).map(i => (i % 40).toLong)  // wider spread
    val out = run(ref)(
      window.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      Seq(Scored("s", at(1, 0), 0L)))
    assert(out.size == 1 && out.head.n_events == 60L)
    val batch = Quality.varianceRatioTest(
      window.toDF("v"), ref.toDF("v"), "v")
      .select(col("f")).head().getDouble(0)
    assert(out.head.var_ratio == batch,
      s"monitor ${out.head.var_ratio} must equal batch $batch")
  }

  test("two-sided alarm: explosion trips, collapse trips, parity is quiet") {
    val ref = (0 until 100).map(i => (i % 10).toLong)
    val calm = (0 until 50).map(i => (i % 10).toLong)
    val wild = (0 until 50).map(i => (i % 10).toLong * 7)
    val stuck = Seq.fill(50)(5L)
    val mk = (win: Int, vs: Seq[Long]) =>
      vs.zipWithIndex.map { case (v, i) => Scored("s", at(win, i), v) }
    val out = run(ref, ceiling = 4.0)(
      mk(0, calm), mk(1, wild), mk(2, stuck), Seq(Scored("s", at(3, 0), 0L)))
    assert(out.map(_.alarm) == Seq(false, true, true),
      out.map(r => (r.var_ratio, r.alarm)).toString)
    assert(out(2).var_ratio == 0.0, "collapsed variance reads 0")
  }

  test("sources are independent and cumulative blends across windows") {
    val ref = (0 until 100).map(i => (i % 10).toLong)
    val mk = (src: String, win: Int, vs: Seq[Long]) =>
      vs.zipWithIndex.map { case (v, i) => Scored(src, at(win, i), v) }
    val a0 = (0 until 30).map(i => (i % 10).toLong)
    val a1 = (0 until 30).map(i => (i % 10).toLong * 5)
    val b0 = (0 until 30).map(i => (i % 3).toLong)
    val out = run(ref)(
      mk("a", 0, a0) ++ mk("b", 0, b0),
      mk("a", 1, a1),
      Seq(Scored("a", at(2, 0), 0L), Scored("b", at(2, 0), 0L)))
    val aRows = out.filter(_.source == "a")
    val bRows = out.filter(_.source == "b")
    assert(aRows.size == 2 && bRows.size == 1)
    // cumulative over a0 ++ a1 equals the batch on the union
    val batchCum = Quality.varianceRatioTest(
      (a0 ++ a1).toDF("v"), ref.toDF("v"), "v")
      .select(col("f")).head().getDouble(0)
    assert(aRows(1).cum_var_ratio == batchCum)
    // source b never saw a's events
    val batchB = Quality.varianceRatioTest(
      b0.toDF("v"), ref.toDF("v"), "v")
      .select(col("f")).head().getDouble(0)
    assert(bRows.head.var_ratio == batchB)
  }

  test("sub-variance windows stay silent (n < 2 has no variance)") {
    val ref = (0 until 100).map(i => (i % 10).toLong)
    val out = run(ref)(
      Seq(Scored("s", at(0, 0), 3L)),
      Seq(Scored("s", at(1, 0), 4L), Scored("s", at(1, 1), 9L)),
      Seq(Scored("s", at(2, 0), 0L)))
    // window 0 had one event: skipped; window 1 emits (cum n = 3 by then)
    assert(out.size == 1 && out.head.window_start == HourMs)
  }
}
