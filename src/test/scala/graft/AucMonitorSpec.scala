package graft

import graft.streaming.{AucMonitor, MonitorReplay}
import graft.streaming.AucMonitor.{Scored, WinRow}
import java.sql.Timestamp

/** Streaming binned AUC: agreement with the batch Mann-Whitney operator on
  * bin-quantized scores (the regime where the histogram closed form is
  * exact), hand-computed tie arithmetic, cumulative histogram merging,
  * the separation-loss alarm with single-class immunity, clamping, and
  * per-source independence.
  */
class AucMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      bins: Int, aucFloor: Double = 0.7,
      scoreMin: Double = 0.0, scoreMax: Double = -1.0)(
      batches: Seq[Scored]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Scored, WinRow](spark, batches,
      ds => AucMonitor.monitor(
        ds, scoreMin,
        if (scoreMax > scoreMin) scoreMax else bins.toDouble,
        bins, aucFloor, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("agrees with the batch operator on bin-quantized scores") {
    // 60 rows over 10 integer bins with within-bin ties and both labels
    // sharing bins — the midrank regime where binned AUC is exact. Scores
    // ARE the bin indices (scoreMin 0, scoreMax 10), so the batch rank
    // machinery and the histogram closed form see the same order.
    val rows = (0 until 60).map { i =>
      val s = (i * 7 + (i % 13)) % 10        // colliding integer scores
      val l = (s + (i % 3)) >= 5             // label correlated, not perfectly
      (i.toLong, s.toDouble, l)
    }
    val card = operators.Ranking.scoreAuc(
      rows.toDF("doc_id", "sv", "lv"),
      org.apache.spark.sql.functions.col("sv"),
      org.apache.spark.sql.functions.col("lv")).collect().head
    val out = run(bins = 10)(
      rows.map { case (_, s, l) => Scored("s", at(0, s.toInt * 60), s, l) } :+
        Scored("s", at(1, 0), 1.0, true))
    assert(out.head.n_pos == card.getAs[Long]("n_pos"))
    assert(out.head.n_neg == card.getAs[Long]("n_neg"))
    assert(out.head.auc == card.getAs[Double]("auc"))
  }

  test("hand-computed tie arithmetic and window rollover") {
    // bin 0: 2 neg; bin 1: 1 pos + 1 neg (half-tie); bin 2: 1 pos
    // U = 1·(2 + 0.5) + 1·3 = 5.5; P·N = 2·3 = 6; AUC = 0.9167 (floor-form)
    val w0 = Seq(
      Scored("s", at(0, 0), 0.1, false), Scored("s", at(0, 1), 0.4, false),
      Scored("s", at(0, 2), 1.2, true), Scored("s", at(0, 3), 1.8, false),
      Scored("s", at(0, 4), 2.5, true))
    val out = run(bins = 3, scoreMax = 3.0)(
      w0 :+ Scored("s", at(1, 0), 1.0, true))
    assert(out.map(r => (r.window_start, r.n_pos, r.n_neg)) == Seq((0L, 2L, 3L)))
    assert(out.head.auc == 0.9167 && !out.head.alarm)
  }

  test("cumulative AUC merges histograms across windows and batches") {
    // window 0: perfect separation (AUC 1); window 1: perfect reversal
    // (AUC 0, alarm). Cumulative: pos at bins {9,0}, neg at bins {0,9}
    // → U = 1·0.5 + 1·(1 + 0.5) = 2, P·N = 4 → cum 0.5.
    val w0 = Seq(Scored("s", at(0, 0), 0.5, false), Scored("s", at(0, 1), 9.5, true))
    val w1 = Seq(Scored("s", at(1, 0), 9.5, false), Scored("s", at(1, 1), 0.5, true))
    val close = Seq(Scored("s", at(2, 0), 5.0, true))
    val out = run(bins = 10)(w0, w1, close)
    assert(out.map(r => (r.auc, r.cum_auc, r.alarm)) ==
      Seq((1.0, 1.0, false), (0.0, 0.5, true)))
  }

  test("single-class windows emit NaN AUC and never alarm") {
    val w0 = Seq(Scored("s", at(0, 0), 1.0, true), Scored("s", at(0, 1), 2.0, true))
    val out = run(bins = 4, scoreMax = 4.0)(
      w0 :+ Scored("s", at(1, 0), 1.0, false))
    assert(out.size == 1 && out.head.auc.isNaN && !out.head.alarm)
    assert(out.head.n_pos == 2L && out.head.n_neg == 0L)
  }

  test("out-of-range scores clamp to the edge bins") {
    // -5 clamps to bin 0, +99 clamps to the top bin: still perfectly
    // separated → AUC 1
    val w0 = Seq(Scored("s", at(0, 0), -5.0, false), Scored("s", at(0, 1), 99.0, true))
    val out = run(bins = 8, scoreMax = 8.0)(
      w0 :+ Scored("s", at(1, 0), 1.0, true))
    assert(out.head.auc == 1.0)
  }

  test("sources are monitored independently") {
    val out = run(bins = 10, aucFloor = 0.7)(
      Seq(
        Scored("a", at(0, 0), 1.0, false), Scored("a", at(0, 1), 8.0, true),
        Scored("b", at(0, 0), 8.0, false), Scored("b", at(0, 1), 1.0, true),
        Scored("a", at(1, 0), 5.0, true), Scored("b", at(1, 0), 5.0, true)))
    val byS = out.groupBy(_.source)
    assert(byS("a").head.auc == 1.0 && !byS("a").head.alarm)
    assert(byS("b").head.auc == 0.0 && byS("b").head.alarm)
  }
}
