package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming two-sample Cramér–von Mises monitor — the live twin of
  * [[graft.operators.Quality.cramerVonMises]] and the L2 companion to
  * [[KsMonitor]] on the SAME state: KS trips on one bad gap anywhere
  * (a single spiked bin), CvM integrates the SQUARED gap across the
  * whole axis, so it trips on sustained low-grade separation a spike
  * test discounts — the "everything shifted a little" drift mode. Same
  * contract: scored events per source count into caller-supplied fixed
  * bins; a window rollover emits the criterion between the window's
  * binned sample and the caller-supplied reference histogram, in basis
  * points, with the alarm above a caller ceiling.
  *
  * Arithmetic parity, not approximation: on the bin indices this IS the
  * batch operator — per pooled bin the CDF-gap numerator
  * |cumRef_b·n_cur − cumCur_b·n_ref| forms in BigInt, the per-class
  * term h_b·(dnum/(n_ref·n_cur))² floors to ⌊term·2³⁰⌋ grains and sums
  * as a Long (the batch operator's order-free-integer discipline,
  * replayed sequentially here), and T renders as the same
  * ⌊T·10⁴ + 0.5⌋ basis points — spec-pinned term-for-term against
  * `Quality.cramerVonMises` on the bin indices. Bin edges and the
  * reference histogram are the batch side's job (the X214–X227
  * division: batch calibrates, stream monitors).
  *
  * State is O(sources × bins) counters — never events; the window loop
  * and the binned state are [[WindowedMonitor]]'s.
  */
object CvmMonitor extends Serializable {

  final case class Scored(source: String, ts: Timestamp, value: Double)

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      cvm_bp: Long, cum_cvm_bp: Long, alarm: Boolean)

  def monitor(
      events: Dataset[Scored],
      cuts: Seq[Double],
      refCounts: Seq[Long],
      cvmCeilingBp: Long,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    val bins = refCounts.length
    WindowedMonitor.requireCutBins(cuts, refCounts)
    require(cvmCeilingBp > 0 && windowMs > 0, "positive ceiling and window")
    val cutsIx = cuts.toIndexedSeq
    val nRef: Long = refCounts.sum
    val cumRef: Array[Long] = refCounts.scanLeft(0L)(_ + _).tail.toArray
    val refArr: Array[Long] = refCounts.toArray
    // the batch criterion on a window histogram: integer cross-masses per
    // pooled bin class, the per-class floor(term*2^30) grains, ONE final
    // scale — Quality.cramerVonMises on the bin indices, sequentially
    def cvmBpOf(counts: Seq[Long]): Long = {
      val nCur = counts.sum
      var cumCur = 0L
      var s = 0L
      var b = 0
      while (b < bins) {
        cumCur += counts(b)
        val dnum = (BigInt(cumRef(b)) * nCur - BigInt(cumCur) * nRef).abs
        val gap = dnum.toDouble / (nRef.toDouble * nCur.toDouble)
        val h = (refArr(b) + counts(b)).toDouble
        s += math.floor(h * gap * gap * 1073741824.0).toLong
        b += 1
      }
      val nn = nRef.toDouble + nCur.toDouble
      val t = s.toDouble / 1073741824.0 *
        (nRef.toDouble * nCur.toDouble) / (nn * nn)
      math.floor(t * 10000 + 0.5).toLong
    }
    WindowedMonitor.run(events, windowMs)(_.source, _.ts)(
      WindowedMonitor.binned[Scored, WinRow](bins)(
        e => Iterator.single(ScoreDriftMonitor.binOf(e.value, cutsIx))) { (src, s, n) =>
        val bp = cvmBpOf(s.counts)
        WinRow(src, s.win * windowMs, n, bp, cvmBpOf(s.cumCounts), bp > cvmCeilingBp)
      })
  }
}
