package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming two-sample Kuiper monitor — the live twin of
  * [[graft.operators.Quality.kuiperTest]] and the equal-tail-weight
  * companion to [[KsMonitor]] on the same binned state: KS's sup-norm is
  * most sensitive to a shift near the reference median and discounts a
  * truncation swap that moves mass tail-to-tail with the median fixed;
  * Kuiper's V = D⁺ + D⁻ weights both one-sided excursions equally, so
  * exactly that swap — a score distribution losing its low tail while
  * growing a high spike — trips the live alarm KS undersells.
  *
  * Mechanics are [[KsMonitor]]'s verbatim (same Scored input, same
  * caller-supplied cuts + reference histogram, the same
  * [[WindowedMonitor]] loop and O(sources × bins) binned state), with the
  * supremum split into its SIGNED one-sided integer cross-mass maxes
  * (clamped at zero — an excursion that never goes positive contributes
  * nothing, the batch operator's convention) before the one division and
  * the batch floor-form display rounding — so the monitor equals
  * `Quality.kuiperTest` run on the bin indices (spec-pinned).
  */
object KuiperMonitor extends Serializable {

  final case class Scored(source: String, ts: Timestamp, value: Double)

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      kuiper_v: Double, cum_kuiper_v: Double, alarm: Boolean)

  def monitor(
      events: Dataset[Scored],
      cuts: Seq[Double],
      refCounts: Seq[Long],
      vCeiling: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    val bins = refCounts.length
    WindowedMonitor.requireCutBins(cuts, refCounts)
    require(vCeiling > 0 && windowMs > 0, "positive ceiling and window")
    val cutsIx = cuts.toIndexedSeq
    val nRef: Long = refCounts.sum
    val cumRef: Array[Long] = refCounts.scanLeft(0L)(_ + _).tail.toArray
    // the batch suprema on a window histogram: SIGNED integer
    // cross-masses at every bin boundary, each one-sided max clamped at
    // zero, ONE division, the batch v floor-form display rounding
    def vOf(counts: Seq[Long]): Double = {
      val nCur = counts.sum
      var cum = 0L
      var dPlus = BigInt(0)
      var dMinus = BigInt(0)
      var b = 0
      while (b < bins) {
        cum += counts(b)
        val num = BigInt(cumRef(b)) * nCur - BigInt(cum) * nRef
        if (num > dPlus) dPlus = num
        if (-num > dMinus) dMinus = -num
        b += 1
      }
      val v = (dPlus + dMinus).toDouble / (nRef.toDouble * nCur.toDouble)
      math.floor(v * 10000 + 0.5) / 10000
    }
    WindowedMonitor.run(events, windowMs)(_.source, _.ts)(
      WindowedMonitor.binned[Scored, WinRow](bins)(
        e => Iterator.single(ScoreDriftMonitor.binOf(e.value, cutsIx))) { (src, s, n) =>
        val v = vOf(s.counts)
        WinRow(src, s.win * windowMs, n, v, vOf(s.cumCounts), v > vCeiling)
      })
  }
}
