package graft

import graft.operators.{GlobalRank, Quality}
import graft.streaming.{KsMonitor, KuiperMonitor, MonitorReplay, ScoreDriftMonitor}
import graft.streaming.KuiperMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming Kuiper: V agreement with the batch kuiperTest on the
  * bin-quantized samples, V >= the KS monitor's D on identical state,
  * the tail-swap case Kuiper exists for, rollover and the alarm.
  */
class KuiperMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

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
      ds => KuiperMonitor.monitor(
        ds, cuts, refCounts, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window V equals the batch kuiperTest on the bin-quantized samples") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val window = (0 until 40).map(i => (i % 20) * 1.5) ++ Seq.fill(20)(97.0)
    val out = run(cuts, refCounts)(
      window.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      Seq(Scored("s", at(1, 0), 0.0)))
    assert(out.size == 1 && out.head.n_events == 60L)
    def quantized(vs: Seq[Double]) = vs.zipWithIndex
      .map { case (v, i) =>
        (i.toLong, ScoreDriftMonitor.binOf(v, cuts).toDouble) }
      .toDF("id", "v")
    val batchBp = Quality.kuiperTest(quantized(ref), quantized(window), "v")
      .select(col("v_bp")).as[Long].head()
    assert(math.floor(out.head.kuiper_v * 10000 + 0.5).toLong == batchBp,
      s"monitor ${out.head.kuiper_v} must equal batch ${batchBp} bp")
  }

  test("the tail-to-tail swap: V doubles KS's read on identical state") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    // mass swaps INTO both tails: the window's CDF leads the reference
    // through the low bins (D- excursion) and lags it through the high
    // ones (D+ excursion), so V ≈ D+ + D- while KS reports only the max
    val window = Seq.fill(50)(5.0) ++ Seq.fill(50)(95.0)
    val ev = window.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) }
    val out = run(cuts, refCounts, ceiling = 0.3)(
      ev, Seq(Scored("s", at(1, 0), 0.0)))
    val ksD = MonitorReplay.runStreamBatches[KsMonitor.Scored, KsMonitor.WinRow](
      spark,
      Seq(window.zipWithIndex.map { case (v, i) => KsMonitor.Scored("s", at(0, i), v) } :+
        KsMonitor.Scored("s", at(1, 0), 0.0)),
      ds => KsMonitor.monitor(ds, cuts, refCounts, 10.0, HourMs))
      .head.ks_d
    assert(out.head.kuiper_v >= ksD, "V >= D always")
    assert(out.head.kuiper_v > ksD * 1.5,
      s"the swap must show in V (${out.head.kuiper_v}) well beyond D ($ksD)")
    assert(out.head.alarm, "the 0.3 ceiling must trip")
  }

  test("identical-mix window sits at zero; rollover and cumulative blend") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val uniform = (0 until 10).map(b => b * 10.0 + 5.0)
    val shifted = Seq.fill(10)(95.0)
    val out = run(cuts, refCounts, ceiling = 0.5)(
      uniform.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      shifted.zipWithIndex.map { case (v, i) => Scored("s", at(1, i), v) },
      Seq(Scored("s", at(2, 0), 0.0)))
    assert(out.size == 2)
    assert(out.head.kuiper_v == 0.0 && !out.head.alarm)
    assert(out(1).kuiper_v > 0.5 && out(1).alarm)
    // cumulative blends both windows: strictly between the two
    assert(out(1).cum_kuiper_v > 0.0 && out(1).cum_kuiper_v < out(1).kuiper_v)
  }
}
