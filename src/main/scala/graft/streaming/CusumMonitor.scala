package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming CUSUM level-shift monitor — the live twin of
  * [[graft.operators.Sessions.cusumDailyCounts]]: per event type, daily
  * counts accumulate in state and, when the event-time day rolls over,
  * the completed day folds into Page's one-sided sums
  * S⁺ = max(0, S⁺ + (c − μ − k)) / S⁻ = max(0, S⁻ + (μ − c − k)) and one
  * row (type, day, n, s_up, s_down, alarm) is emitted.
  *
  * Unlike the batch operator, μ/k/h are CALLER-SUPPLIED reference
  * parameters (tuned on history): a stream cannot use the in-sample mean
  * it hasn't seen yet — that difference is the point of the pairing, and
  * the batch operator is where the reference gets fitted.
  *
  * Days roll over on [[WindowedMonitor]]'s loop: event-time order
  * within each micro-batch keeps emission deterministic under replay,
  * and an event from an already-closed day (possible only across
  * micro-batches) folds into the open day, so each day emits once.
  * State is one small case class per type.
  */
object CusumMonitor {

  final case class Ev(event_type: String, ts: Timestamp)
  final case class SumState(day: Long, n: Long, sUp: Double, sDown: Double)
  final case class DayRow(
      event_type: String, day: Long, n: Long,
      s_up: Double, s_down: Double, alarm: Boolean)

  private val DayMs = 86400000L

  def monitor(
      events: Dataset[Ev],
      mu: Double,
      slack: Double,
      threshold: Double): Dataset[DayRow] =
    WindowedMonitor.run(events, DayMs)(_.event_type, _.ts)(
      new WindowedMonitor.Stat[Ev, SumState, DayRow] {
        def open(day: Long) = SumState(day, 0L, 0.0, 0.0)
        def window(s: SumState) = s.day
        def add(s: SumState, e: Ev) = s.copy(n = s.n + 1)
        def roll(tpe: String, s: SumState, day: Long, emit: DayRow => Unit) = {
          val su = math.max(0.0, s.sUp + (s.n - mu - slack))
          val sd = math.max(0.0, s.sDown + (mu - s.n - slack))
          emit(DayRow(tpe, s.day, s.n, su, sd, su > threshold || sd > threshold))
          SumState(day, 0L, su, sd)
        }
      })
}
