package graft

import graft.operators.{GlobalRank, Quality}
import graft.streaming.{MonitorReplay, ScoreDriftMonitor}
import graft.streaming.ScoreDriftMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming numeric drift: PSI agreement with the batch scoreDrift on
  * identical window contents (cuts and reference histogram derived the
  * batch way), identical-zero, rollover + cumulative blend, the drift
  * alarm, and per-source independence.
  */
class ScoreDriftMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  /** The batch side's calibration products for a reference sample. */
  private def calibrate(ref: Seq[Double], bins: Int = 10): (Seq[Double], Seq[Long]) = {
    val refDf = ref.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val cuts = GlobalRank.percentileValues(
      refDf, "v", "id", (1 until bins).map(_.toDouble / bins)).get.toSeq
    val counts = Array.fill(bins)(0L)
    ref.foreach(v => counts(ScoreDriftMonitor.binOf(v, cuts)) += 1L)
    (cuts, counts.toSeq)
  }

  private def run(
      cuts: Seq[Double], refCounts: Seq[Long], ceiling: Double = 10.0)(
      batches: Seq[Scored]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Scored, WinRow](spark, batches,
      ds => ScoreDriftMonitor.monitor(
        ds, cuts, refCounts, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window PSI agrees with the batch scoreDrift on identical contents") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val window = (0 until 60).map(i => (i % 30) * 3.3)
    val out = run(cuts, refCounts)(
      window.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      Seq(Scored("s", at(1, 0), 0.0)))
    assert(out.size == 1 && out.head.n_events == 60L)
    val batch = Quality.scoreDrift(
      ref.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"),
      window.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"),
      "v", "id").select(col("psi")).as[Double].head()
    assert(out.head.psi == batch,
      s"monitor ${out.head.psi} must equal batch $batch")
  }

  test("a window drawn bin-uniform from the reference mix sits near zero; rollover and cum blend") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    // one event per reference bin: the window mix equals the smoothed
    // reference shape, so PSI is ~0 (not exactly 0: smoothing masses differ)
    val uniform = (0 until 10).map(b => b * 10.0 + 5.0)
    val shifted = Seq.fill(10)(95.0) // all mass in the top bin
    val out = run(cuts, refCounts, ceiling = 0.5)(
      uniform.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      shifted.zipWithIndex.map { case (v, i) => Scored("s", at(1, i), v) },
      Seq(Scored("s", at(2, 0), 0.0)))
    assert(out.size == 2)
    assert(out(0).psi < 0.01 && !out(0).alarm)
    assert(out(1).psi > 0.5 && out(1).alarm)
    assert(out(1).cum_psi > 0.0 && out(1).cum_psi < out(1).psi,
      "cumulative blends the calm window with the drifted one")
  }

  test("sources are monitored independently") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val out = run(cuts, refCounts, ceiling = 0.5)(
      (0 until 10).map(b => Scored("calm", at(0, b), b * 10.0 + 5.0)) ++
        (0 until 10).map(i => Scored("hot", at(0, i), 99.0)),
      Seq(Scored("calm", at(1, 0), 0.0), Scored("hot", at(1, 0), 0.0)))
    val byS = out.groupBy(_.source)
    assert(!byS("calm").head.alarm && byS("hot").head.alarm)
  }
}
