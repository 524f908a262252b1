package graft

import graft.operators.{GlobalRank, Quality}
import graft.streaming.{MonitorReplay, ScoreDriftMonitor, WassersteinMonitor}
import graft.streaming.WassersteinMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming W1: transport-cost agreement with the batch
  * wassersteinDistance on the bin-quantized samples (cuts and reference
  * histogram derived the batch way), identical-mix zero, rollover +
  * cumulative blend, the drift alarm, and per-source independence.
  */
class WassersteinMonitorSpec extends SparkSpec {
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
      cuts: Seq[Double], refCounts: Seq[Long], ceiling: Double = 100.0)(
      batches: Seq[Scored]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Scored, WinRow](spark, batches,
      ds => WassersteinMonitor.monitor(
        ds, cuts, refCounts, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window W1 equals the batch wassersteinDistance on the bin-quantized samples") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    // skew plus a gap: a value pattern that leaves some bins empty on
    // the window side, exercising the present-bin gap walk
    val window = (0 until 30).map(i => (i % 10) * 1.1) ++ Seq.fill(30)(98.5)
    val out = run(cuts, refCounts)(
      window.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      Seq(Scored("s", at(1, 0), 0.0)))
    assert(out.size == 1 && out.head.n_events == 60L)
    def quantized(vs: Seq[Double]) = vs.zipWithIndex
      .map { case (v, i) =>
        (i.toLong, ScoreDriftMonitor.binOf(v, cuts).toDouble) }
      .toDF("id", "v")
    val batch = Quality.wassersteinDistance(quantized(ref), quantized(window), "v")
      .select(col("w1")).as[Double].head()
    assert(out.head.w1 == batch,
      s"monitor ${out.head.w1} must equal batch $batch")
  }

  test("bin-uniform reference mix costs zero; a far shift costs its distance; cum blends") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val uniform = (0 until 10).map(b => b * 10.0 + 5.0)
    val shifted = Seq.fill(10)(95.0) // all mass at the top bin
    val out = run(cuts, refCounts, ceiling = 2.0)(
      uniform.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      shifted.zipWithIndex.map { case (v, i) => Scored("s", at(1, i), v) },
      Seq(Scored("s", at(2, 0), 0.0)))
    assert(out.size == 2)
    assert(out(0).w1 == 0.0 && !out(0).alarm)
    // moving a uniform 10-bin mix entirely to the top bin costs the mean
    // index distance: (9+8+...+0)/10 = 4.5 bins
    assert(math.abs(out(1).w1 - 4.5) < 0.001 && out(1).alarm)
    assert(out(1).cum_w1 > 0.0 && out(1).cum_w1 < out(1).w1,
      "cumulative blends the calm window with the shifted one")
  }

  test("sources are monitored independently") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val out = run(cuts, refCounts, ceiling = 2.0)(
      (0 until 10).map(b => Scored("calm", at(0, b), b * 10.0 + 5.0)) ++
        (0 until 10).map(i => Scored("hot", at(0, i), 99.0)),
      Seq(Scored("calm", at(1, 0), 0.0), Scored("hot", at(1, 0), 0.0)))
    val byS = out.groupBy(_.source)
    assert(!byS("calm").head.alarm && byS("hot").head.alarm)
  }
}
