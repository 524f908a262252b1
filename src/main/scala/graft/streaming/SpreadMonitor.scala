package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming variance-ratio monitor — the live twin of
  * [[graft.operators.Quality.varianceRatioTest]] (q298), completing the
  * scale family's live coverage the way KsMonitor/CvmMonitor cover
  * location: per-source integral measurements (token counts, latencies
  * in integer units) accumulate exact (n, Σx, Σx²) moments per
  * event-time window, and at rollover the window's sample variance is
  * compared to a CALLER-SUPPLIED reference variance — "did this source
  * get noisier (or collapse to a constant), JUST NOW?". The ratio
  * outside [1/`ratioCeiling`, `ratioCeiling`] trips the alarm — BOTH
  * tails, deliberately: a variance collapse (a stuck sensor, a
  * truncation bug emitting one value) is as much drift as an explosion,
  * and a sup-norm location monitor can miss either while the mean holds.
  *
  * Arithmetic parity, not approximation: state is three integer
  * counters per source (never events, never bins); at emit the variance
  * numerator clears to the exact integer c2 = n·Σx² − (Σx)² in BigInt
  * (the CalibrationMonitor discipline), s² = c2/(n(n−1)) and the ratio
  * s²_cur/s²_ref are the batch operator's spelled chains with the same
  * floor-to-4-digits display — so the monitor equals
  * `Quality.varianceRatioTest` run on (window rows, reference rows),
  * spec-pinned. The reference moments are the batch side's job (one
  * varianceRatioTest or moment aggregate over the calibration snapshot
  * — the X214–X227 division: batch calibrates, stream monitors).
  *
  * State is O(sources) — three Longs per side per source — and the
  * per-trigger working set is O(windows-in-batch per source), not
  * O(events): [[WindowedMonitor.runSummed]] buckets moments per window
  * id directly off the iterator (within-window order is irrelevant to
  * the sums). Long accumulation is exact while n·max(x)² stays under
  * 2⁶³ (a 10⁹-event window of 10⁴-token documents sits at 10¹⁷ — three
  * orders inside); the emit-time cross products are BigInt and cannot
  * overflow.
  * Windows with n < 2 carry no variance and emit nothing (the batch
  * side nulls the same way).
  */
object SpreadMonitor extends Serializable {

  final case class Scored(source: String, ts: Timestamp, value: Long)

  final case class MomState(
      win: Long, n: Long, s1: Long, s2: Long,
      cumN: Long, cumS1: Long, cumS2: Long)

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      var_ratio: Double, cum_var_ratio: Double, alarm: Boolean)

  def monitor(
      events: Dataset[Scored],
      refN: Long,
      refS1: Long,
      refS2: Long,
      ratioCeiling: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(refN > 1, "reference needs n >= 2 for a variance")
    require(ratioCeiling > 1.0, "ratioCeiling must exceed 1 (two-sided band)")
    require(windowMs > 0, "positive window")
    // reference variance, once on the driver — exact integer numerator
    val refC2 = BigInt(refN) * BigInt(refS2) - BigInt(refS1) * BigInt(refS1)
    require(refC2 > 0, "reference variance must be positive")
    val vRef: Double = refC2.toDouble / (refN.toDouble * (refN.toDouble - 1))
    def ratioOf(n: Long, s1: Long, s2: Long): Double = {
      val c2 = BigInt(n) * BigInt(s2) - BigInt(s1) * BigInt(s1)
      val vCur = c2.toDouble / (n.toDouble * (n.toDouble - 1))
      math.floor(vCur / vRef * 10000 + 0.5) / 10000
    }
    // heap per trigger is O(windows-in-batch), not O(events-in-batch)
    // (ADVICE r17): the core sums each window's moments straight off the
    // iterator, then folds the sums in ascending window order — within a
    // window the moment sums commute, so this equals the ts-sorted fold
    WindowedMonitor.runSummed(events, windowMs)(_.source, _.ts)(
      () => new Array[Long](3), // (n, Σx, Σx²)
      (b: Array[Long], e: Scored) => {
        b(0) += 1L; b(1) += e.value; b(2) += e.value * e.value
      })(
      new WindowedMonitor.Stat[Array[Long], MomState, WinRow] {
        def open(w: Long) = MomState(w, 0L, 0L, 0L, 0L, 0L, 0L)
        def window(s: MomState) = s.win
        def add(s: MomState, b: Array[Long]) = MomState(s.win,
          s.n + b(0), s.s1 + b(1), s.s2 + b(2),
          s.cumN + b(0), s.cumS1 + b(1), s.cumS2 + b(2))
        def roll(src: String, s: MomState, w: Long, emit: WinRow => Unit) = {
          // a window (or cumulative) with n < 2 has no variance —
          // the batch side nulls there, the monitor stays silent
          if (s.n >= 2 && s.cumN >= 2) {
            val r = ratioOf(s.n, s.s1, s.s2)
            emit(WinRow(src, s.win * windowMs, s.n, r,
              ratioOf(s.cumN, s.cumS1, s.cumS2),
              r > ratioCeiling || r * ratioCeiling < 1.0))
          }
          MomState(w, 0L, 0L, 0L, s.cumN, s.cumS1, s.cumS2)
        }
      })
  }
}
