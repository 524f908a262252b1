package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming numeric score-drift monitor — the live twin of
  * [[graft.operators.Quality.scoreDrift]]: scored events arriving per
  * source count into the batch side's reference-quantile bins, and when
  * an event-time window rolls over the window's PSI against the
  * CALLER-SUPPLIED reference histogram is emitted — the "did the score
  * distribution move JUST NOW?" panel, where the batch operator answers
  * it between snapshots. PSI above a caller ceiling trips the alarm
  * (PSI is unbounded above — use the industry bands the batch operator
  * reports: 0.1 / 0.25).
  *
  * Parity is arithmetic, not approximate: the bin draw (the same
  * first-cut < comparison chain), the add-1 smoothing over all bins,
  * the (p−q)·ln(p/q) fold in bin order, and the half-up 4-digit display
  * rounding mirror the batch operator term-for-term, so monitor and
  * batch agree on identical window contents (spec-pinned). The
  * cutpoints AND the reference histogram are the batch side's job to
  * produce (percentileValues deciles + one binned count — the
  * X191/X214–X216/X220/X222 division: batch calibrates, stream
  * monitors); the smoothed reference probabilities are precomputed once
  * on the driver and ride the closure as an O(bins) array.
  *
  * State is O(sources × bins) counters — never events; the cumulative
  * PSI rides the same mergeable histogram. The window loop and the
  * binned state are [[WindowedMonitor]]'s.
  */
object ScoreDriftMonitor extends Serializable {

  final case class Scored(source: String, ts: Timestamp, value: Double)

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      psi: Double, cum_psi: Double, alarm: Boolean)

  /** The batch operator's bin draw: the first cut the value is below,
    * else the last bin (cuts are the B−1 ascending reference quantiles). */
  def binOf(v: Double, cuts: Seq[Double]): Int = {
    var i = 0
    while (i < cuts.length && !(v < cuts(i))) i += 1
    i
  }

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def monitor(
      events: Dataset[Scored],
      cuts: Seq[Double],
      refCounts: Seq[Long],
      psiCeiling: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    val bins = refCounts.length
    WindowedMonitor.requireCutBins(cuts, refCounts)
    require(psiCeiling > 0 && windowMs > 0, "positive ceiling and window")
    val cutsIx = cuts.toIndexedSeq
    // add-1 smoothed reference probabilities, precomputed once: the
    // batch operator's pr = (cr + 1) / (nr + bins)
    val nr = refCounts.sum
    val pr: Array[Double] =
      refCounts.iterator.map(c => (c + 1.0) / (nr.toDouble + bins)).toArray
    // the batch PSI fold on a window histogram, bin-ordered, then the
    // half-up 4-digit display rounding
    def psi(counts: Seq[Long]): Double = {
      val nc = counts.sum
      var s = 0.0
      var b = 0
      while (b < bins) {
        val pc = (counts(b) + 1.0) / (nc.toDouble + bins)
        s += (pr(b) - pc) * math.log(pr(b) / pc)
        b += 1
      }
      round4(s)
    }
    WindowedMonitor.run(events, windowMs)(_.source, _.ts)(
      WindowedMonitor.binned[Scored, WinRow](bins)(
        e => Iterator.single(binOf(e.value, cutsIx))) { (src, s, n) =>
        val p = psi(s.counts)
        WinRow(src, s.win * windowMs, n, p, psi(s.cumCounts), p > psiCeiling)
      })
  }
}
