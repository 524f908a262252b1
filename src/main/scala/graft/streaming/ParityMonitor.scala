package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming demographic-parity monitor — the live twin of
  * [[graft.operators.Quality.fairnessGaps]]: thresholded filter
  * decisions tagged with a group attribute accumulate per source into
  * per-group (n, n_pred) counters within event-time windows; when a
  * window rolls over, one row (source, window_start, n_events,
  * n_groups_active, parity_gap_bp, max_group, min_group,
  * cum_parity_gap_bp, alarm) is emitted. The gap reaching a caller
  * ceiling trips the alarm — the "this quality filter just started
  * starving a language" tripwire, caught in the window it happens
  * instead of in next week's batch audit.
  *
  * The per-group selection rate and the max−min gap mirror the batch
  * operator's arithmetic term for term (the same floor(r·1e4 + 0.5)
  * basis points, the same integer spread), so the spec pins
  * number-for-number agreement with `fairnessGaps` on identical window
  * contents. Ties on the extreme rates resolve to the lexicographically
  * least group name, making the (max_group, min_group) attribution
  * deterministic under replay.
  *
  * State is O(sources × (groups + 1)) counters: the group universe is
  * CALLER-SUPPLIED from the batch side (the X191/X214–X216/X220
  * division — a monitor must not let a corrupt upstream mint unbounded
  * group keys), and decisions arriving with an unlisted group fold into
  * one OTHER slot rather than being silently dropped: a sudden OTHER
  * mass is itself a signal (it participates in the gap like any group).
  * Cumulative counters ride along for the since-start gap.
  */
object ParityMonitor {

  final case class Decision(source: String, ts: Timestamp, group: String, pred: Boolean)

  final case class ParityState(
      win: Long, n: Seq[Long], nPred: Seq[Long],
      cumN: Seq[Long], cumNPred: Seq[Long])

  final case class WinRow(
      source: String, window_start: Long, n_events: Long,
      n_groups_active: Long, parity_gap_bp: Long,
      max_group: String, min_group: String,
      cum_parity_gap_bp: Long, alarm: Boolean)

  /** The OTHER slot's reported name. */
  val OtherGroup = "__other__"

  /** The batch operator's selection-rate rendering. */
  private def bp(nPred: Long, n: Long): Long =
    math.floor(nPred.toDouble / n * 10000 + 0.5).toLong

  /** (gap, maxGroup, minGroup) over the active groups; (0, "", "") when
    * fewer than one group is active. Ties resolve to the least name. */
  private def gapOf(
      names: IndexedSeq[String], n: Seq[Long], nPred: Seq[Long]): (Long, String, String) = {
    val active = names.indices.filter(n(_) > 0)
    if (active.isEmpty) (0L, "", "")
    else {
      val rates = active.map(i => (bp(nPred(i), n(i)), names(i)))
      val mx = rates.maxBy { case (r, g) => (r, g) }._1
      val mn = rates.minBy { case (r, g) => (r, g) }._1
      val maxG = rates.filter(_._1 == mx).map(_._2).min
      val minG = rates.filter(_._1 == mn).map(_._2).min
      (mx - mn, maxG, minG)
    }
  }

  def monitor(
      events: Dataset[Decision],
      groups: Seq[String],
      gapCeilingBp: Long,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(groups.nonEmpty && groups.distinct.size == groups.size,
      "a non-empty, duplicate-free group universe")
    require(!groups.contains(OtherGroup), s"$OtherGroup is reserved")
    require(gapCeilingBp >= 0 && windowMs > 0, "ceiling >= 0, window > 0")
    val names: IndexedSeq[String] = groups.toIndexedSeq :+ OtherGroup
    val slots = names.size
    val index: Map[String, Int] = names.zipWithIndex.toMap
    WindowedMonitor.run(events, windowMs)(_.source, _.ts)(
      new WindowedMonitor.Stat[Decision, ParityState, WinRow] {
        private val zero = Vector.fill(slots)(0L)
        def open(w: Long) = ParityState(w, zero, zero, zero, zero)
        def window(s: ParityState) = s.win
        def add(s: ParityState, e: Decision) = {
          val i = index.getOrElse(e.group, slots - 1)
          val p = if (e.pred) 1L else 0L
          ParityState(s.win,
            s.n.updated(i, s.n(i) + 1L), s.nPred.updated(i, s.nPred(i) + p),
            s.cumN.updated(i, s.cumN(i) + 1L), s.cumNPred.updated(i, s.cumNPred(i) + p))
        }
        def roll(src: String, s: ParityState, w: Long, emit: WinRow => Unit) = {
          val total = s.n.sum
          if (total > 0) {
            val (gap, maxG, minG) = gapOf(names, s.n, s.nPred)
            val (cumGap, _, _) = gapOf(names, s.cumN, s.cumNPred)
            emit(WinRow(src, s.win * windowMs, total,
              s.n.count(_ > 0).toLong, gap, maxG, minG, cumGap,
              gap >= gapCeilingBp))
          }
          ParityState(w, zero, zero, s.cumN, s.cumNPred)
        }
      })
  }
}
