package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming sequential probability ratio test (Wald 1945) on a pass
  * rate — the live twin of [[graft.operators.Quality.proportionDiff]]'s
  * A/B question, asked the sequential way: instead of comparing two
  * finished slices, each source's pass/fail stream accumulates the
  * Bernoulli log-likelihood ratio between the calibrated rate p₀ and
  * the alternative p₁, and the test DECIDES the moment the evidence
  * crosses Wald's boundaries — with the caller's α/β error rates
  * guaranteed, usually at a fraction of the fixed-n sample size. The
  * canary/rollout primitive: "the new parser's failure rate is still
  * p₀" accepts or rejects itself as early as the data allows.
  *
  * Per event-time window this emits the running (n, k, llr) and the
  * decision — `continue`, `accept_h0`, or `reject_h0` (alarm) — where
  * llr = k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)), upper boundary
  * ln((1−β)/α) rejects H₀, lower ln(β/(1−α)) accepts. After a decision
  * the counters RESET and a fresh test begins (the monitoring form —
  * one-shot tests end; a monitor must keep watching). The two ln terms
  * are driver-precomputed constants, so the state is two counters per
  * source and the llr is exact integer-weighted arithmetic on them.
  *
  * Ordering is [[WindowedMonitor]]'s: events are processed in
  * event-time order within each micro-batch; an event arriving LATE
  * relative to the open window (possible only across batches) clamps
  * into the current window — it still counts as SPRT evidence, and
  * crucially it can never force a close, so a decision is only ever
  * emitted on a genuine window advance with the full window's evidence
  * behind it.
  */
object SprtMonitor extends Serializable {

  final case class Trial(source: String, ts: Timestamp, pass: Boolean)

  final case class SprtState(win: Long, n: Long, k: Long)

  final case class WinRow(
      source: String, window_start: Long, n_trials: Long, n_pass: Long,
      llr: Double, decision: String, alarm: Boolean)

  def monitor(
      trials: Dataset[Trial],
      p0: Double,
      p1: Double,
      alpha: Double = 0.05,
      beta: Double = 0.05,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "rates must be interior and distinct")
    require(alpha > 0 && alpha < 0.5 && beta > 0 && beta < 0.5,
      "error rates must be in (0, 0.5)")
    require(windowMs > 0, "positive window")
    val wPass = math.log(p1 / p0)
    val wFail = math.log((1 - p1) / (1 - p0))
    val upper = math.log((1 - beta) / alpha)
    val lower = math.log(beta / (1 - alpha))
    def llrOf(n: Long, k: Long): Double = k * wPass + (n - k) * wFail
    def round4(v: Double): Double = math.floor(v * 10000 + 0.5) / 10000
    WindowedMonitor.run(trials, windowMs)(_.source, _.ts)(
      new WindowedMonitor.Stat[Trial, SprtState, WinRow] {
        def open(w: Long) = SprtState(w, 0L, 0L)
        def window(s: SprtState) = s.win
        def add(s: SprtState, t: Trial) =
          s.copy(n = s.n + 1, k = if (t.pass) s.k + 1 else s.k)
        def roll(src: String, s: SprtState, w: Long, emit: WinRow => Unit) =
          if (s.n == 0) s.copy(win = w)
          else {
            val l = llrOf(s.n, s.k)
            val decision =
              if (l >= upper) "reject_h0"
              else if (l <= lower) "accept_h0"
              else "continue"
            emit(WinRow(src, s.win * windowMs, s.n, s.k,
              round4(l), decision, decision == "reject_h0"))
            // a decided test is over — the monitor starts a new one
            if (decision == "continue") s.copy(win = w) else SprtState(w, 0L, 0L)
          }
      })
  }
}
