package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming ADWIN change detector (Bifet & Gavaldà 2007, "Learning from
  * Time-Changing Data with Adaptive Windowing" — ADWIN0 with the
  * exponential-histogram memory bound): per event type, daily counts
  * enter an ADAPTIVE window; whenever two sub-windows' means differ
  * beyond the Hoeffding-style cut
  * ε = √(1/(2m)·ln(4W/δ)), m = 1/(1/W₀ + 1/W₁),
  * the oldest buckets drop until no split disagrees. One row per closed
  * day: (type, day, n, width, mean_bp, cut).
  *
  * The division of labor on the live shelf: [[CusumMonitor]] and
  * [[PageHinkleyMonitor]] test against a CALLER-FITTED reference μ —
  * right when a trusted baseline exists; ADWIN needs NO reference and
  * no window size — it learns the current level and adapts its own
  * memory, which is the tool when the "normal" level itself drifts
  * legitimately (weekly growth) and a fixed μ would alarm forever. The
  * price is the weaker guarantee (Hoeffding bound, two-sided δ).
  *
  * Memory: the exponential histogram keeps ≤ M buckets per power-of-two
  * capacity class (M = 5 here, the paper's choice), so state is
  * O(M·log(W/M)) per type — bounded for any stream length. All bucket
  * sums/counts are exact longs; only the cut check floats.
  *
  * Days roll over on [[WindowedMonitor]]'s loop, which keeps emission
  * deterministic under replay. Two explicit consequences of
  * rollover-only emission (r15 ADVICE): the last IN-PROGRESS day per
  * type is never emitted — it sits in state until a later day's first
  * event closes it — so a quiesced stream holds its final day open
  * indefinitely (slightly more consequential here than for the
  * fixed-reference monitors, since an unclosed day also delays ADWIN's
  * adaptive cut decision); and an event from an already-closed day
  * (possible only across micro-batches) folds into the CURRENT open
  * day's count rather than its own, so each day emits once. A
  * deployment needing prompt closure should add an event-time timeout
  * (GroupStateTimeout.EventTimeTimeout) flushing the open day after a
  * grace period — left out here to keep the whole monitor family's
  * emission semantics identical and replay-exact.
  */
object AdwinMonitor {

  final case class Ev(event_type: String, ts: Timestamp)
  /** newest-first bucket lists: sums(i)/counts(i) is the i-th newest. */
  final case class AdwinState(
      day: Long, n: Long, sums: List[Long], counts: List[Long])
  final case class DayRow(
      event_type: String, day: Long, n: Long,
      width: Long, mean_bp: Long, cut: Boolean)

  private val DayMs = 86400000L
  private val MaxPerClass = 5

  /** Merge the two OLDEST buckets of any capacity class exceeding
    * MaxPerClass (one pass per insertion keeps the histogram legal —
    * a merge can cascade into the next class, hence the loop).
    */
  private def compress(sums: List[Long], counts: List[Long])
      : (List[Long], List[Long]) = {
    var s = sums
    var c = counts
    var changed = true
    while (changed) {
      changed = false
      c.zipWithIndex.groupBy(_._1)
        .find { case (_, xs) => xs.size > MaxPerClass } match {
        case Some((_, xs)) =>
          // indices are newest-first: the two largest indices of this
          // class are the two OLDEST buckets — merge them, and the
          // merged (doubled-capacity) bucket takes the older slot so
          // temporal order stays intact
          val idx = xs.map(_._2).sorted.takeRight(2)
          val (i1, i2) = (idx(0), idx(1))
          val mergedSum = s(i1) + s(i2)
          val mergedCount = c(i1) + c(i2)
          val keep = s.indices.filterNot(i => i == i1 || i == i2)
          val pos = keep.count(_ < i2)
          s = keep.map(s).toList.patch(pos, List(mergedSum), 0)
          c = keep.map(c).toList.patch(pos, List(mergedCount), 0)
          changed = true
        case None =>
      }
    }
    (s, c)
  }

  /** Drop oldest buckets while any split's mean gap beats the cut. */
  private def detect(sums: List[Long], counts: List[Long], delta: Double)
      : (List[Long], List[Long], Boolean) = {
    var s = sums
    var c = counts
    var cut = false
    var again = true
    while (again && c.size > 1) {
      again = false
      val w = c.sum.toDouble
      val totS = s.sum.toDouble
      // walk splits oldest-side growing: suffix of the newest-first list
      var w0 = 0.0; var s0 = 0.0
      var k = c.size - 1
      var found = false
      while (k >= 1 && !found) {
        w0 += c(k); s0 += s(k)
        val w1 = w - w0
        val s1 = totS - s0
        if (w0 >= 1 && w1 >= 1) {
          val m = 1.0 / (1.0 / w0 + 1.0 / w1)
          val eps = math.sqrt(1.0 / (2 * m) * math.log(4 * w / delta))
          if (math.abs(s0 / w0 - s1 / w1) > eps) found = true
        }
        k -= 1
      }
      if (found) {
        // drop the single oldest bucket and re-check (the paper's loop)
        s = s.init
        c = c.init
        cut = true
        again = true
      }
    }
    (s, c, cut)
  }

  def monitor(
      events: Dataset[Ev],
      delta: Double = 0.01): Dataset[DayRow] = {
    require(delta > 0 && delta < 1, "confidence delta must be in (0, 1)")
    WindowedMonitor.run(events, DayMs)(_.event_type, _.ts)(
      new WindowedMonitor.Stat[Ev, AdwinState, DayRow] {
        def open(day: Long) = AdwinState(day, 0L, Nil, Nil)
        def window(s: AdwinState) = s.day
        def add(s: AdwinState, e: Ev) = s.copy(n = s.n + 1)
        def roll(tpe: String, s: AdwinState, day: Long, emit: DayRow => Unit) = {
          val (s1, c1) = compress(s.n :: s.sums, 1L :: s.counts)
          val (s2, c2, cutFlag) = detect(s1, c1, delta)
          val width = c2.sum
          val meanBp = math.floor(s2.sum.toDouble / width * 10000 + 0.5).toLong
          emit(DayRow(tpe, s.day, s.n, width, meanBp, cutFlag))
          AdwinState(day, 0L, s2, c2)
        }
      })
  }
}
