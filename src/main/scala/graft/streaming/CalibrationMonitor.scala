package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming calibration monitor — the live twin of
  * [[graft.operators.Quality.calibrationSummary]]: labeled predictions
  * arriving per source land in the same B equal-width score bins as the
  * batch report, each bin keeping only (n, n_pos, Σ score_q20,
  * Σ brier_q20) counters; when an event-time window rolls over one row
  * (source, window_start, n, n_pos, ece_bp, brier_bp, cum_ece_bp,
  * alarm) is emitted. ECE above a caller ceiling trips the alarm — the
  * "the scorer's probabilities stopped meaning anything" tripwire that
  * [[AucMonitor]]'s separation view cannot see (Guo et al. ICML'17:
  * discrimination and calibration fail independently).
  *
  * Parity is arithmetic, not approximate: scores enter as the SAME
  * integer rationals the batch audit takes (num/den), the bin draw is
  * the same clamped integral division, the per-row quantizations are
  * floor(num·2^20/den) and floor((num−y·den)²·2^20/den²) computed in
  * BigInt (the DECIMAL(38,0) twin — exact at any long input), and the
  * ECE fold runs in bin order with the same association — so monitor
  * and batch agree to the basis point on identical window contents
  * (spec-pinned). The bin count B is CALLER-SUPPLIED from the batch
  * side (the batch-calibrates/stream-monitors division).
  *
  * State is O(sources × bins) counters — never events; cumulative
  * counters ride along for the since-start ECE. Rows with den <= 0 are
  * dropped before the [[WindowedMonitor]] loop.
  */
object CalibrationMonitor extends Serializable {

  final case class Pred(
      source: String, ts: Timestamp, num: Long, den: Long, label: Boolean)

  final case class BinsState(
      win: Long, n: Seq[Long], nPos: Seq[Long], s20: Seq[Long], b20: Seq[Long],
      cumN: Seq[Long], cumNPos: Seq[Long], cumS20: Seq[Long], cumB20: Seq[Long])

  final case class WinRow(
      source: String, window_start: Long, n: Long, n_pos: Long,
      ece_bp: Long, brier_bp: Long, cum_ece_bp: Long, alarm: Boolean)

  /** The batch report's per-row quantities, BigInt-exact: (bin,
    * score_q20, brier_q20) from the clamped rational. */
  def rowTerms(num: Long, den: Long, label: Boolean, bins: Int): (Int, Long, Long) = {
    val n = math.max(0L, math.min(num, den))
    val bn = BigInt(n)
    val bd = BigInt(den)
    val q20 = BigInt(1048576L)
    val bin = math.min(bins - 1, ((bn * bins) / bd).toInt)
    val s20 = ((bn * q20) / bd).toLong
    val d = bn - (if (label) bd else BigInt(0))
    val b20 = ((d * d * q20) / (bd * bd)).toLong
    (bin, s20, b20)
  }

  private def bp(x: Double): Long = math.floor(x * 10000 + 0.5).toLong

  def monitor(
      events: Dataset[Pred],
      bins: Int,
      eceCeilingBp: Long,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(bins >= 2 && bins <= 10000, "2 <= bins <= 10000")
    require(eceCeilingBp >= 0 && windowMs > 0, "ceiling >= 0, window > 0")
    // the batch summary's sorted-bin ECE fold and Brier mean
    def ece(n: Seq[Long], nPos: Seq[Long], s20: Seq[Long]): Long = {
      val total = n.sum
      var acc = 0.0
      var b = 0
      while (b < bins) {
        if (n(b) > 0) {
          val nb = n(b).toDouble
          acc += nb / total.toDouble *
            math.abs(s20(b).toDouble / (nb * 1048576.0) - nPos(b).toDouble / nb)
        }
        b += 1
      }
      bp(acc)
    }
    WindowedMonitor.run(events.filter(_.den > 0), windowMs)(_.source, _.ts)(
      new WindowedMonitor.Stat[Pred, BinsState, WinRow] {
        private val zero = Vector.fill(bins)(0L)
        def open(w: Long) = BinsState(w, zero, zero, zero, zero, zero, zero, zero, zero)
        def window(s: BinsState) = s.win
        def add(s: BinsState, p: Pred) = {
          val (b, s20, b20) = rowTerms(p.num, p.den, p.label, bins)
          val pos = if (p.label) 1L else 0L
          s.copy(
            n = s.n.updated(b, s.n(b) + 1L),
            nPos = s.nPos.updated(b, s.nPos(b) + pos),
            s20 = s.s20.updated(b, s.s20(b) + s20),
            b20 = s.b20.updated(b, s.b20(b) + b20),
            cumN = s.cumN.updated(b, s.cumN(b) + 1L),
            cumNPos = s.cumNPos.updated(b, s.cumNPos(b) + pos),
            cumS20 = s.cumS20.updated(b, s.cumS20(b) + s20),
            cumB20 = s.cumB20.updated(b, s.cumB20(b) + b20))
        }
        def roll(src: String, s: BinsState, w: Long, emit: WinRow => Unit) = {
          val total = s.n.sum
          if (total > 0) {
            val e = ece(s.n, s.nPos, s.s20)
            emit(WinRow(src, s.win * windowMs, total, s.nPos.sum, e,
              bp(s.b20.sum.toDouble / (total.toDouble * 1048576.0)),
              ece(s.cumN, s.cumNPos, s.cumS20),
              e >= eceCeilingBp))
          }
          BinsState(w, zero, zero, zero, zero, s.cumN, s.cumNPos, s.cumS20, s.cumB20)
        }
      })
  }
}
