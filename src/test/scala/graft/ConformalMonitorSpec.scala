package graft

import graft.streaming.{ConformalMonitor, MonitorReplay}
import graft.streaming.ConformalMonitor.{Pred, WinRow}
import java.sql.Timestamp

/** Streaming conformal coverage: agreement with the batch operator on the
  * same window, window-rollover emission, cumulative coverage across
  * micro-batches, the low-coverage alarm, and per-source independence.
  */
class ConformalMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      slope: Double, intercept: Double, qHat: Double,
      target: Double = 0.9, tolerance: Double = 0.05)(
      batches: Seq[Pred]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Pred, WinRow](spark, batches,
      ds => ConformalMonitor.monitor(
        ds, slope, intercept, qHat, target,
        windowMs = HourMs, tolerance = tolerance))
      .sortBy(r => (r.source, r.window_start))

  test("agrees with the batch operator on the same window") {
    // deterministic frame: y = 3 + 2x + structured residual; rows ≡3 (mod
    // 10) are 9-off outliers the interval should miss — none of them land
    // on the doc_id%5 calibration split, so q̂ comes from the small-residual
    // band and every eval decision has a wide margin against the 4-digit
    // parameter rounding
    val rows = (1 to 60).map { i =>
      val res = if (i % 10 == 3) 9.0 else (i % 5 - 2).toDouble
      (i.toLong, i.toDouble, 3.0 + 2.0 * i + res)
    }
    val card = operators.Quality.conformalInterval(
      rows.toDF("doc_id", "xv", "yv"), "xv", "yv",
      idCol = "doc_id", alpha = 0.1, calMod = 5).collect().head
    val b = card.getAs[Double]("slope")
    val a = card.getAs[Double]("intercept")
    val q = card.getAs[Double]("q_hat")
    // the batch card audits coverage on the doc_id%5 != 0 eval split;
    // stream the SAME split through one window with the card's parameters
    val eval = rows.filter(_._1 % 5 != 0)
    val batchCovered =
      eval.count { case (_, x, y) => math.abs(y - (a + b * x)) <= q }.toLong
    val out = run(slope = b, intercept = a, qHat = q)(
      eval.zipWithIndex.map { case ((_, x, y), i) => Pred("s", at(0, i), x, y) } :+
        Pred("s", at(1, 0), 1.0, 5.0))
    assert(out.head.n_eval == eval.size.toLong)
    assert(out.head.covered == batchCovered)
    // decision-for-decision agreement ⇒ the realized coverages match too
    def r4(v: Double) = math.floor(v * 10000 + 0.5) / 10000
    assert(r4(out.head.coverage) == card.getAs[Double]("coverage"))
  }

  test("windows emit on rollover with hand-computed counts") {
    // interval 1 + 2x ± 0.5: y = 2x+1 covered, y = 2x+3 not
    val w0 = (0 until 4).map(i => Pred("s", at(0, i), i.toDouble, 2.0 * i + 1.0)) :+
      Pred("s", at(0, 9), 5.0, 14.0) // one miss
    val w1 = Seq(Pred("s", at(1, 0), 1.0, 3.0))
    // target 0.8 − tol 0.05 = 0.75 threshold: 0.8 coverage is healthy here
    val out = run(slope = 2.0, intercept = 1.0, qHat = 0.5, target = 0.8)(w0 ++ w1)
    assert(out.map(r => (r.window_start, r.n_eval, r.covered)) ==
      Seq((0L, 5L, 4L)))
    assert(out.head.coverage == 0.8 && !out.head.alarm)
  }

  test("cumulative coverage accumulates across micro-batches") {
    // window 0: 4/4 covered; window 1: 1/4 covered -> cum 5/8
    val w0 = (0 until 4).map(i => Pred("s", at(0, i), i.toDouble, 2.0 * i + 1.0))
    val w1 = (0 until 4).map(i =>
      Pred("s", at(1, i), i.toDouble, 2.0 * i + (if (i == 0) 1.0 else 9.0)))
    val close = Seq(Pred("s", at(2, 0), 1.0, 3.0))
    val out = run(slope = 2.0, intercept = 1.0, qHat = 0.5)(w0, w1, close)
    assert(out.map(r => (r.window_start / HourMs, r.covered, r.cum_coverage)) ==
      Seq((0L, 4L, 1.0), (1L, 1L, 0.625)))
    assert(out.map(_.alarm) == Seq(false, true))
  }

  test("alarm respects the tolerance band around the target") {
    // 17/20 covered = 0.85: inside target 0.9 − tol 0.05 (>= boundary, no
    // alarm); with tol 0.01 the same window alarms
    def w = (0 until 20).map(i =>
      Pred("s", at(0, i), i.toDouble, 2.0 * i + (if (i < 17) 1.0 else 9.0))) :+
      Pred("s", at(1, 0), 1.0, 3.0)
    val lenient = run(slope = 2.0, intercept = 1.0, qHat = 0.5)(w)
    val strict = run(slope = 2.0, intercept = 1.0, qHat = 0.5,
      tolerance = 0.01)(w)
    assert(lenient.head.coverage == 0.85 && !lenient.head.alarm)
    assert(strict.head.alarm)
  }

  test("sources are monitored independently") {
    val out = run(slope = 2.0, intercept = 1.0, qHat = 0.5)(
      Seq(Pred("a", at(0, 0), 1.0, 3.0), Pred("a", at(0, 1), 2.0, 9.0),
        Pred("b", at(0, 0), 1.0, 3.0),
        Pred("a", at(1, 0), 1.0, 3.0), Pred("b", at(1, 0), 1.0, 3.0)))
    val byS = out.groupBy(_.source)
    assert(byS("a").head.covered == 1L && byS("a").head.n_eval == 2L)
    assert(byS("b").head.covered == 1L && byS("b").head.n_eval == 1L)
  }
}
