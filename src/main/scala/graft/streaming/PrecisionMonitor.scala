package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming precision/recall monitor at the SHIPPED threshold — the
  * live twin of [[graft.operators.Quality.prCurve]]: the batch sweep
  * picks which bin cut to deploy; this watches that one cut in
  * production, per source, per event-time window, and alarms when
  * precision or recall drops through a caller floor. The division of
  * labor is the X214–X227 one: batch calibrates (sweeps all thresholds
  * over the full corpus), stream monitors (counts one rule's confusion
  * masses live).
  *
  * Parity is arithmetic: the bin draw is the batch operator's integral
  * division (BigInt — the same value DECIMAL `div` produces), the
  * decision is bin >= thrBin, masses are integer counters, and the
  * basis-point renderings are the same floor-form chains — so on
  * identical window contents the monitor row EQUALS the prCurve row at
  * the shipped threshold (spec-pinned, column for column).
  *
  * State is O(sources) confusion counters (tp/fp/fn/tn per window and
  * cumulative) — never events. Rows with den <= 0 are dropped before
  * the [[WindowedMonitor]] loop.
  */
object PrecisionMonitor extends Serializable {

  final case class Scored(
      source: String, ts: Timestamp, num: Long, den: Long, label: Boolean)

  final case class ConfState(
      win: Long, tp: Long, fp: Long, fn: Long, tn: Long,
      ctp: Long, cfp: Long, cfn: Long, ctn: Long)

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      tp: Long, fp: Long, fn: Long,
      precision_bp: Option[Long], recall_bp: Option[Long],
      f1_bp: Option[Long], alarm: Boolean)

  def monitor(
      events: Dataset[Scored],
      thrBin: Int,
      bins: Int = 10,
      precisionFloorBp: Long = 0L,
      recallFloorBp: Long = 0L,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(bins > 1 && thrBin >= 0 && thrBin < bins,
      "threshold must be one of the sweep's bins")
    require(precisionFloorBp >= 0 && recallFloorBp >= 0 && windowMs > 0,
      "non-negative floors, positive window")
    // the batch bin draw: least(bins-1, num*bins div den), num clamped
    // into [0, den] — integral arithmetic start to finish
    def predictedPositive(num: Long, den: Long): Boolean = {
      val n0 = math.max(0L, math.min(num, den))
      val bin = math.min((bins - 1).toLong,
        (BigInt(n0) * bins / BigInt(den)).toLong)
      bin >= thrBin
    }
    def bp(num: Long, den: Long): Option[Long] =
      if (den > 0) Some(math.floor(num.toDouble / den.toDouble * 10000 + 0.5).toLong)
      else None
    WindowedMonitor.run(events.filter(_.den > 0), windowMs)(_.source, _.ts)(
      new WindowedMonitor.Stat[Scored, ConfState, WinRow] {
        def open(w: Long) = ConfState(w, 0, 0, 0, 0, 0, 0, 0, 0)
        def window(s: ConfState) = s.win
        def add(s: ConfState, e: Scored) = {
          val pred = predictedPositive(e.num, e.den)
          if (pred && e.label) s.copy(tp = s.tp + 1, ctp = s.ctp + 1)
          else if (pred) s.copy(fp = s.fp + 1, cfp = s.cfp + 1)
          else if (e.label) s.copy(fn = s.fn + 1, cfn = s.cfn + 1)
          else s.copy(tn = s.tn + 1, ctn = s.ctn + 1)
        }
        def roll(src: String, s: ConfState, w: Long, emit: WinRow => Unit) = {
          val n = s.tp + s.fp + s.fn + s.tn
          if (n > 0) {
            val p = bp(s.tp, s.tp + s.fp)
            val r = bp(s.tp, s.tp + s.fn)
            val f1 = bp(2 * s.tp, 2 * s.tp + s.fp + s.fn)
            emit(WinRow(src, s.win * windowMs, n, s.tp, s.fp, s.fn, p, r, f1,
              p.exists(_ < precisionFloorBp) || r.exists(_ < recallFloorBp)))
          }
          ConfState(w, 0, 0, 0, 0, s.ctp, s.cfp, s.cfn, s.ctn)
        }
      })
  }
}
