package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming Page–Hinkley mean-drift monitor (Page 1954's cumulative
  * form with Hinkley 1971's running-minimum decision rule — the standard
  * drift detector of the data-stream literature, e.g. Gama et al. 2014
  * §3.1): per event type, daily counts accumulate in state and, when the
  * event-time day rolls over, the completed day folds into
  * m_T = Σ(c − μ − δ) with M_T = min_{t≤T} m_t, and one row
  * (type, day, n, ph_up, ph_down, alarm) is emitted with
  * PH_T = m_T − M_T (and the mirrored sum for downward drift).
  *
  * The difference from [[CusumMonitor]] is the decision geometry, not
  * the bookkeeping: CUSUM clamps its one-sided sums at zero (it asks
  * "how far above reference has the RECENT run been?"), Page–Hinkley
  * measures the rise from the HISTORIC minimum of the unclamped
  * cumulative — a slow drift that never produces a clamped run still
  * grows PH linearly. Both belong on the shelf; the drift literature
  * benchmarks them side by side.
  *
  * As in [[CusumMonitor]], μ/δ/λ are CALLER-SUPPLIED reference
  * parameters fitted on the batch side — a stream cannot use the
  * in-sample mean it hasn't seen yet. Days roll over on
  * [[WindowedMonitor]]'s loop, so an event from an already-closed day
  * folds into the open day and each day emits once. State is one small
  * case class per type.
  */
object PageHinkleyMonitor {

  final case class Ev(event_type: String, ts: Timestamp)
  final case class PhState(
      day: Long, n: Long,
      mUp: Double, minUp: Double, mDown: Double, minDown: Double)
  final case class DayRow(
      event_type: String, day: Long, n: Long,
      ph_up: Double, ph_down: Double, alarm: Boolean)

  private val DayMs = 86400000L

  def monitor(
      events: Dataset[Ev],
      mu: Double,
      delta: Double,
      lambda: Double): Dataset[DayRow] =
    WindowedMonitor.run(events, DayMs)(_.event_type, _.ts)(
      new WindowedMonitor.Stat[Ev, PhState, DayRow] {
        def open(day: Long) = PhState(day, 0L, 0.0, 0.0, 0.0, 0.0)
        def window(s: PhState) = s.day
        def add(s: PhState, e: Ev) = s.copy(n = s.n + 1)
        def roll(tpe: String, s: PhState, day: Long, emit: DayRow => Unit) = {
          // the empty prefix m_0 = 0 participates in the minimum —
          // the state's mins start at 0 and only ever decrease
          val mu2 = s.mUp + (s.n - mu - delta)
          val mnU = math.min(s.minUp, mu2)
          val md2 = s.mDown + (mu - s.n - delta)
          val mnD = math.min(s.minDown, md2)
          emit(DayRow(tpe, s.day, s.n, mu2 - mnU, md2 - mnD,
            mu2 - mnU > lambda || md2 - mnD > lambda))
          PhState(day, 0L, mu2, mnU, md2, mnD)
        }
      })
}
