package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming corpus-drift monitor — the live twin of
  * [[graft.operators.CorpusAnalytics.distributionDrift]]: documents
  * arriving per source tokenize into the same hashed-bucket unigram
  * histogram the batch operator uses, and when an event-time window rolls
  * over the window's Jensen-Shannon divergence against a CALLER-SUPPLIED
  * reference histogram is emitted — the "did the crawl change under us
  * JUST NOW?" panel, where the batch operator answers it between
  * snapshots. JS above a caller ceiling trips the alarm; JS is bounded
  * [0, ln 2], so the ceiling is scale-free.
  *
  * Parity is arithmetic, not approximate: the tokenizer
  * (lower/trim/whitespace-split), the engine-portable md5-hex-prefix
  * bucket draw, the add-1 smoothing over all `buckets` buckets, the
  * two-term JS fold, and the half-up 4-digit display rounding all mirror
  * the batch operator term-for-term, so monitor and batch agree on
  * identical window contents (spec-pinned, including hash parity of
  * [[bucketOf]] against the Spark expression). The reference histogram is
  * the batch side's job to produce (same division as [[CusumMonitor]] /
  * [[ConformalMonitor]] / [[AucMonitor]]: batch calibrates, stream
  * monitors); its smoothed log-probabilities are precomputed once on the
  * driver and ride the closure as an O(buckets) array.
  *
  * State is O(sources × buckets) counters — never tokens, never
  * documents; the cumulative JS rides the same mergeable histogram. The
  * window loop and the binned state are [[WindowedMonitor]]'s.
  */
object DriftMonitor extends Serializable {

  final case class Doc(source: String, ts: Timestamp, text: String)

  final case class WinRow(
      source: String, window_start: Long, n_tokens: Long,
      js: Double, cum_js: Double, alarm: Boolean)

  /** The batch operator's bucket draw, JVM-side:
    * conv(substring(md5(tok), 1, 8), 16, 10) % buckets — the first four
    * md5 bytes of the UTF-8 token as an unsigned int, mod buckets. */
  def bucketOf(tok: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % buckets).toInt
  }

  /** The batch operator's tokenizer, JVM-side:
    * filter(split(lower(trim(text)), "\\s+"), length > 0). */
  def tokensOf(text: String): Array[String] =
    if (text == null) Array.empty
    else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def monitor(
      events: Dataset[Doc],
      refCounts: Seq[Long],
      jsCeiling: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    val buckets = refCounts.length
    require(buckets > 1, "need at least 2 hash buckets")
    require(refCounts.forall(_ >= 0) && refCounts.sum > 0,
      "reference histogram must be non-negative with positive mass")
    require(jsCeiling > 0, "jsCeiling must be positive")
    require(windowMs > 0, "windowMs must be positive")
    // add-1 smoothed reference probabilities, precomputed once: the batch
    // operator's pa = (ca + 1) / (na + buckets)
    val na = refCounts.sum
    val pa: Array[Double] =
      refCounts.iterator.map(c => (c + 1.0) / (na.toDouble + buckets)).toArray
    // the batch JS fold on a window histogram: two bucket-ordered sums,
    // each halved, then the half-up 4-digit display rounding
    def js(counts: Seq[Long]): Double = {
      val nb = counts.sum
      var sa = 0.0
      var sb = 0.0
      var b = 0
      while (b < buckets) {
        val pb = (counts(b) + 1.0) / (nb.toDouble + buckets)
        val m = (pa(b) + pb) / 2.0
        sa += pa(b) * math.log(pa(b) / m)
        sb += pb * math.log(pb / m)
        b += 1
      }
      round4(sa / 2 + sb / 2)
    }
    WindowedMonitor.run(events, windowMs)(_.source, _.ts)(
      WindowedMonitor.binned[Doc, WinRow](buckets)(
        e => tokensOf(e.text).iterator.map(bucketOf(_, buckets))) { (src, s, n) =>
        val j = js(s.counts)
        WinRow(src, s.win * windowMs, n, j, js(s.cumCounts), j > jsCeiling)
      })
  }
}
