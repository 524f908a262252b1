package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.reflect.runtime.universe.TypeTag

/** The one windowed-state loop behind the streaming monitor shelf — one
  * shared primitive plus one plug-in statistic per monitor (Kohn, Leis &
  * Neumann, "Building Advanced SQL Analytics From Low-Level Plan
  * Operators", SIGMOD'21).
  *
  * Per key, events fold into the open event-time window `ts / windowMs`
  * (each micro-batch in event-time order). The first event of a LATER
  * window rolls over: the plug-in closes the open window, emitting its
  * rows, and returns the next window's state with the cumulative carry.
  * The one clamp rule: an event from a window BELOW the open one —
  * possible only across micro-batches — folds into the open window. So a
  * window closes exactly once, a window id is never emitted twice, and a
  * decision always rests on the full window. Only closed windows emit;
  * the last open window per key waits in state for a later event (no
  * timeout, so emission is replay-exact).
  */
object WindowedMonitor {

  /** One monitor's statistic over the loop: state `S` per key, the fold
    * unit `U` (an event, or a per-window sum), emitted rows `R`.
    */
  trait Stat[U, S, R] extends Serializable {
    /** The state of a key's first window `w`. */
    def open(w: Long): S
    /** The window id `s` holds open. */
    def window(s: S): Long
    def add(s: S, u: U): S
    /** Close `s`, emitting its rows, and return window `w`'s state. */
    def roll(key: String, s: S, w: Long, emit: R => Unit): S
  }

  /** Fold every event, each micro-batch sorted by event time (ties keep
    * arrival order — the order-sensitive sketches depend on it).
    */
  def run[E, S <: Product : TypeTag, R <: Product : TypeTag](
      events: Dataset[E], windowMs: Long)(key: E => String, ts: E => Timestamp)(
      stat: Stat[E, S, R]): Dataset[R] =
    fold(events, key, stat) { batch =>
      batch.toSeq.sortBy(ts(_).getTime).iterator.map(e => (ts(e).getTime / windowMs, e))
    }

  /** Sum each micro-batch per window id first (`plus` into `zero()`), then
    * fold the sums in window order: heap per trigger is O(windows), not
    * O(events). Only for statistics whose in-window fold commutes.
    */
  def runSummed[E, P, S <: Product : TypeTag, R <: Product : TypeTag](
      events: Dataset[E], windowMs: Long)(key: E => String, ts: E => Timestamp)(
      zero: () => P, plus: (P, E) => Unit)(stat: Stat[P, S, R]): Dataset[R] =
    fold(events, key, stat) { batch =>
      val byWin = LongMap.empty[P]
      batch.foreach(e => plus(byWin.getOrElseUpdate(ts(e).getTime / windowMs, zero()), e))
      byWin.keys.toArray.sorted.iterator.map(w => (w, byWin(w)))
    }

  private def fold[E, U, S <: Product : TypeTag, R <: Product : TypeTag](
      events: Dataset[E], key: E => String, stat: Stat[U, S, R])(
      units: Iterator[E] => Iterator[(Long, U)]): Dataset[R] = {
    implicit val stateEnc = Encoders.product[S]
    implicit val outEnc = Encoders.product[R]
    events
      .groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState[S, R](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, batch: Iterator[E], state: GroupState[S]) =>
          val it = units(batch).buffered
          if (!it.hasNext) Iterator.empty
          else {
            val out = ArrayBuffer.empty[R]
            var st = state.getOption.getOrElse(stat.open(it.head._1))
            it.foreach { case (w, u) =>
              // the clamp rule: only a later window rolls; a late one folds in
              if (w > stat.window(st)) st = stat.roll(k, st, w, out += _)
              st = stat.add(st, u)
            }
            state.update(st)
            out.iterator
          }
      }
  }

  /** The histogram monitors' state: per-window and cumulative bin counts. */
  final case class HistState(win: Long, counts: Seq[Long], cumCounts: Seq[Long])

  /** The histogram monitors' plug-in: an event adds one count to each bin
    * `binsOf` names, in the window and the cumulative histogram; a closed
    * window holding n > 0 counts emits `row(key, state, n)`.
    */
  def binned[E, R](bins: Int)(binsOf: E => Iterator[Int])(
      row: (String, HistState, Long) => R): Stat[E, HistState, R] =
    new Stat[E, HistState, R] {
      private val zero = Vector.fill(bins)(0L)
      def open(w: Long) = HistState(w, zero, zero)
      def window(s: HistState) = s.win
      def add(s: HistState, e: E) = {
        var cs = s.counts
        var cc = s.cumCounts
        binsOf(e).foreach { b =>
          cs = cs.updated(b, cs(b) + 1L)
          cc = cc.updated(b, cc(b) + 1L)
        }
        HistState(s.win, cs, cc)
      }
      def roll(key: String, s: HistState, w: Long, emit: R => Unit) = {
        val n = s.counts.sum
        if (n > 0) emit(row(key, s, n))
        HistState(w, zero, s.cumCounts)
      }
    }

  /** The cut-binned monitors' shared calibration checks: B >= 2 reference
    * bins with positive mass and B−1 non-decreasing cutpoints.
    */
  def requireCutBins(cuts: Seq[Double], refCounts: Seq[Long]): Unit = {
    require(refCounts.length > 1 && cuts.length == refCounts.length - 1,
      "need B >= 2 reference bins and B-1 cutpoints")
    require(cuts.zip(cuts.tail).forall { case (a, b) => a <= b },
      "cutpoints must be non-decreasing")
    require(refCounts.forall(_ >= 0) && refCounts.sum > 0,
      "reference histogram must be non-negative with positive mass")
  }
}
