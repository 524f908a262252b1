package graft

import graft.operators.{GlobalRank, Quality}
import graft.streaming.{CvmMonitor, MonitorReplay, ScoreDriftMonitor}
import graft.streaming.CvmMonitor.{Scored, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming CvM: criterion agreement with the batch cramerVonMises on
  * the bin-quantized samples, the sustained-vs-spike separation the L2
  * member exists for (side by side with the KS monitor on identical
  * windows), rollover + alarm, per-source independence.
  */
class CvmMonitorSpec extends SparkSpec {
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
      cuts: Seq[Double], refCounts: Seq[Long], ceilingBp: Long = 1000000L)(
      batches: Seq[Scored]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Scored, WinRow](spark, batches,
      ds => CvmMonitor.monitor(
        ds, cuts, refCounts, ceilingBp, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("window CvM equals the batch cramerVonMises on the bin indices") {
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
    val batch = Quality.cramerVonMises(quantized(ref), quantized(window), "v")
      .select(col("t_bp")).as[Long].head()
    assert(out.head.cvm_bp == batch,
      s"monitor ${out.head.cvm_bp} must equal batch $batch")
  }

  test("sustained low-grade shift dominates a single-bin spike of equal KS") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    // spike: 20% of mass teleports into the top bin, rest bin-uniform —
    // one sharp CDF gap. smear: every value one bin high — the SAME peak
    // gap magnitude (0.1) but held across nine boundaries
    val spike = (0 until 40).map(b => (b % 10) * 10.0 + 5.0)
      .take(32) ++ Seq.fill(8)(95.0)
    val smear = (0 until 40).map(b => math.min((b % 10) + 1, 9) * 10.0 + 5.0)
    val out = run(cuts, refCounts)(
      spike.zipWithIndex.map { case (v, i) => Scored("spike", at(0, i), v) } ++
        smear.zipWithIndex.map { case (v, i) => Scored("smear", at(0, i), v) },
      Seq(Scored("spike", at(1, 0), 0.0), Scored("smear", at(1, 0), 0.0)))
    val byS = out.groupBy(_.source)
    // both drifted; the sustained one carries MORE CvM mass
    assert(byS("smear").head.cvm_bp > byS("spike").head.cvm_bp,
      s"smear ${byS("smear").head.cvm_bp} vs spike ${byS("spike").head.cvm_bp}")
  }

  test("bin-uniform window sits at zero; rollover + alarm; cumulative blends") {
    val ref = (0 until 100).map(_.toDouble)
    val (cuts, refCounts) = calibrate(ref)
    val uniform = (0 until 10).map(b => b * 10.0 + 5.0)
    val shifted = Seq.fill(10)(95.0)
    val out = run(cuts, refCounts, ceilingBp = 500L)(
      uniform.zipWithIndex.map { case (v, i) => Scored("s", at(0, i), v) },
      shifted.zipWithIndex.map { case (v, i) => Scored("s", at(1, i), v) },
      Seq(Scored("s", at(2, 0), 0.0)))
    assert(out.size == 2)
    assert(out(0).cvm_bp == 0L && !out(0).alarm)
    assert(out(1).cvm_bp > 500L && out(1).alarm)
    assert(out(1).cum_cvm_bp > 0L && out(1).cum_cvm_bp < out(1).cvm_bp)
  }
}
