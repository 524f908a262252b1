package graft

import graft.streaming.{MonitorReplay, TopKMonitor}
import graft.streaming.TopKMonitor.{KeyedEvent, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming heavy hitters: sketch agreement with the batch misra_gries
  * aggregate (exact AND eviction regimes), the MG frequency guarantee,
  * window rollover, cumulative persistence, the novel-key alarm, and
  * per-source independence.
  */
class TopKMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      k: Int, topM: Int, expected: Set[String], share: Double = 1.0)(
      batches: Seq[KeyedEvent]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[KeyedEvent, WinRow](spark, batches,
      ds => TopKMonitor.monitor(
        ds, k, topM, expected, share, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start, r.rank))

  /** The batch aggregate over the same keys (single partition preserves
    * the arrival order the monitor sees after its ts sort). */
  private def batchSketch(keys: Seq[String], k: Int): Seq[(String, Long)] =
    keys.toDF("key").coalesce(1)
      .agg(graft.functions.HeavyHitters.heavy_hitters(col("key"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.key"), col("e.est_count"))
      .as[(String, Long)].collect().toSeq

  test("exact regime: counts match the batch aggregate and GROUP BY") {
    val keys = Seq("a", "b", "a", "c", "a", "b")
    val out = run(k = 8, topM = 8, expected = Set("a", "b", "c"))(
      keys.zipWithIndex.map { case (key, i) => KeyedEvent("s", at(0, i), key) },
      Seq(KeyedEvent("s", at(1, 0), "x"))) // closes window 0
    assert(out.map(r => (r.rank, r.key, r.est_count)) ==
      Seq((1, "a", 3L), (2, "b", 2L), (3, "c", 1L)))
    assert(out.forall(r => r.n_events == 6L && !r.novel && !r.alarm))
    assert(out.map(r => (r.key, r.est_count)) == batchSketch(keys, 8))
    // exact regime: ub collapses onto est + n/(k+1) = est + 0
    assert(out.forall(r => r.ub_count == r.est_count))
  }

  test("eviction regime: sketch state equals the batch aggregate's, bounds hold") {
    // 12 events over 5 keys with k=2: eviction is exercised
    val keys = Seq("a", "b", "c", "a", "d", "a", "e", "a", "b", "a", "c", "a")
    val out = run(k = 2, topM = 2, expected = keys.toSet)(
      keys.zipWithIndex.map { case (key, i) => KeyedEvent("s", at(0, i), key) },
      Seq(KeyedEvent("s", at(1, 0), "x")))
    assert(out.map(r => (r.key, r.est_count)) == batchSketch(keys, 2))
    // MG guarantee: 'a' (6 of 12 > 12/3) must be present, undercounted <= 4
    val a = out.find(_.key == "a").get
    assert(a.est_count <= 6L && a.est_count >= 6L - 12L / 3)
    assert(a.ub_count == a.est_count + 12L / 3)
  }

  test("window rollover and cumulative sketch persistence") {
    val out = run(k = 4, topM = 1, expected = Set("a", "b"))(
      Seq.tabulate(4)(i => KeyedEvent("s", at(0, i), "a")),
      Seq.tabulate(3)(i => KeyedEvent("s", at(1, i), "a")) :+
        KeyedEvent("s", at(1, 3), "b"),
      Seq(KeyedEvent("s", at(2, 0), "b")))
    assert(out.size == 2)
    assert(out(0).window_start == 0L && out(0).est_count == 4L &&
      out(0).cum_est_count == 4L)
    assert(out(1).window_start == HourMs && out(1).key == "a" &&
      out(1).est_count == 3L && out(1).cum_est_count == 7L)
  }

  test("a novel key crossing the share floor trips the alarm; expected keys never do") {
    val events = Seq.tabulate(6)(i => KeyedEvent("s", at(0, i), "bot")) ++
      Seq.tabulate(4)(i => KeyedEvent("s", at(0, 6 + i), "ok"))
    val out = run(k = 4, topM = 2, expected = Set("ok"), share = 0.5)(
      events, Seq(KeyedEvent("s", at(1, 0), "ok")))
    val bot = out.find(_.key == "bot").get
    val ok = out.find(_.key == "ok").get
    assert(bot.novel && bot.alarm, "novel key at 60% share must alarm")
    assert(!ok.novel && !ok.alarm)
    // same burst below the floor: no alarm
    val quiet = run(k = 4, topM = 2, expected = Set("ok"), share = 0.7)(
      events, Seq(KeyedEvent("s", at(1, 0), "ok")))
    assert(quiet.find(_.key == "bot").exists(r => r.novel && !r.alarm))
  }

  test("sources are monitored independently") {
    val out = run(k = 4, topM = 1, expected = Set("a"), share = 0.5)(
      Seq(KeyedEvent("p", at(0, 0), "a"), KeyedEvent("q", at(0, 0), "z"),
        KeyedEvent("p", at(1, 0), "a"), KeyedEvent("q", at(1, 0), "z")))
    val byS = out.groupBy(_.source)
    assert(byS("p").head.key == "a" && !byS("p").head.alarm)
    assert(byS("q").head.key == "z" && byS("q").head.alarm)
  }
}
