package graft

import graft.operators.{GlobalRank, Quality}
import graft.streaming.{KsMonitor, MonitorReplay, ScoreDriftMonitor}
import graft.streaming.KsMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming KS: distance agreement with the batch ksTest on the
  * bin-quantized samples (cuts and reference histogram derived the batch
  * way), identical-mix near zero, rollover + cumulative blend, the
  * drift alarm, and per-source independence.
  */
class KsMonitorSpec extends SparkSpec {
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
      ds => KsMonitor.monitor(
        ds, cuts, refCounts, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window KS equals the batch ksTest on the bin-quantized samples") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    // a skewed window: most mass low, a spike high
    val window = (0 until 40).map(i => (i % 20) * 1.5) ++ Seq.fill(20)(97.0)
    val out = run(cuts, refCounts)(
      window.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      Seq(Scored("s", at(1, 0), 0.0)))
    assert(out.size == 1 && out.head.n_events == 60L)
    // the batch operator on the BIN INDICES both sides would see
    def quantized(vs: Seq[Double]) = vs.zipWithIndex
      .map { case (v, i) =>
        (i.toLong, ScoreDriftMonitor.binOf(v, cuts).toDouble) }
      .toDF("id", "v")
    val batch = Quality.ksTest(quantized(ref), quantized(window), "v")
      .select(col("ks_d")).as[Double].head()
    assert(out.head.ks_d == batch,
      s"monitor ${out.head.ks_d} must equal batch $batch")
  }

  test("a window drawn bin-uniform from the reference sits at zero; rollover, cum blend, alarm") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    // one event per reference bin: the binned CDFs coincide exactly at
    // every boundary, so D = 0 (KS needs no smoothing, unlike PSI)
    val uniform = (0 until 10).map(b => b * 10.0 + 5.0)
    val shifted = Seq.fill(10)(95.0) // all mass in the top bin: D = 0.9
    val out = run(cuts, refCounts, ceiling = 0.5)(
      uniform.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      shifted.zipWithIndex.map { case (v, i) => Scored("s", at(1, i), v) },
      Seq(Scored("s", at(2, 0), 0.0)))
    assert(out.size == 2)
    assert(out(0).ks_d == 0.0 && !out(0).alarm)
    assert(out(1).ks_d == 0.9 && out(1).alarm)
    assert(out(1).cum_ks_d > 0.0 && out(1).cum_ks_d < out(1).ks_d,
      "cumulative blends the calm window with the shifted one")
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
