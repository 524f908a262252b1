package graft

import graft.streaming.{MonitorReplay, ParityMonitor}
import graft.streaming.ParityMonitor.{Decision, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming parity: gap agreement with the batch fairnessGaps on the
  * same window contents, rollover, cumulative blend, the OTHER fold,
  * deterministic extreme-group attribution, the gap alarm, and
  * per-source independence.
  */
class ParityMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  private def run(
      groups: Seq[String], ceiling: Long = 10001L)(
      batches: Seq[Decision]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Decision, WinRow](spark, batches,
      ds => ParityMonitor.monitor(
        ds, groups, ceiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  /** The batch audit's parity gap on (group, pred) rows: decision as a
    * degenerate rational (pred -> 1/1 vs 0/1 against threshold 1/1). */
  private def batchGap(rows: Seq[(String, Boolean)]): Long =
    graft.operators.Quality.fairnessGaps(
      rows.toDF("g", "p").select(col("g"),
        when(col("p"), 1L).otherwise(0L).as("num"), lit(1L).as("den"),
        lit(true).as("y")),
      "g", col("num"), col("den"), col("y"), thrNum = 1L, thrDen = 1L)
      .select(col("parity_gap_bp")).as[Long].head()

  test("window gap agrees with the batch fairnessGaps number-for-number") {
    val w0 = Seq(("en", true), ("en", true), ("en", false),
      ("de", true), ("de", false), ("de", false), ("fr", true))
    val out = run(Seq("en", "de", "fr"))(
      w0.zipWithIndex.map { case ((g, p), i) => Decision("s", at(0, i), g, p) },
      Seq(Decision("s", at(1, 0), "en", true)))
    assert(out.size == 1)
    assert(out.head.parity_gap_bp == batchGap(w0))
    // en 2/3=6667, de 1/3=3333, fr 1/1=10000: gap 6667, fr max, de min
    assert(out.head.parity_gap_bp == 6667L)
    assert(out.head.max_group == "fr" && out.head.min_group == "de")
    assert(out.head.n_events == 7L && out.head.n_groups_active == 3L)
  }

  test("randomized windows agree with the batch gap (8 rounds)") {
    val rnd = new scala.util.Random(1717)
    val gs = Vector("en", "de", "fr")
    for (round <- 0 until 8) {
      val rows = Seq.fill(25)((gs(rnd.nextInt(3)), rnd.nextBoolean()))
      val out = run(gs)(
        rows.zipWithIndex.map { case ((g, p), i) => Decision("s", at(0, i), g, p) },
        Seq(Decision("s", at(1, 0), "en", true)))
      assert(out.head.parity_gap_bp == batchGap(rows), s"round $round")
    }
  }

  test("rollover and the cumulative gap blend across windows") {
    val out = run(Seq("a", "b"))(
      Seq(Decision("s", at(0, 0), "a", true), Decision("s", at(0, 1), "b", false)),
      Seq(Decision("s", at(1, 0), "a", true), Decision("s", at(1, 1), "b", true)),
      Seq(Decision("s", at(2, 0), "a", true)))
    assert(out.size == 2)
    assert(out(0).parity_gap_bp == 10000L && out(0).cum_parity_gap_bp == 10000L)
    // window 1 alone: both 1/1 -> gap 0; cumulative: a 2/2 vs b 1/2 -> 5000
    assert(out(1).parity_gap_bp == 0L && out(1).cum_parity_gap_bp == 5000L)
  }

  test("unlisted groups fold into OTHER and participate in the gap") {
    val out = run(Seq("en"), ceiling = 5000L)(
      Seq(Decision("s", at(0, 0), "en", true), Decision("s", at(0, 1), "en", true),
        Decision("s", at(0, 2), "weird", false), Decision("s", at(0, 3), "weird", false)),
      Seq(Decision("s", at(1, 0), "en", true)))
    assert(out.head.n_groups_active == 2L)
    assert(out.head.parity_gap_bp == 10000L && out.head.alarm)
    assert(out.head.max_group == "en" &&
      out.head.min_group == ParityMonitor.OtherGroup)
  }

  test("the alarm trips at the ceiling, not below it") {
    val mk = (i: Int, g: String, p: Boolean) => Decision("s", at(0, i), g, p)
    val w = Seq(mk(0, "a", true), mk(1, "a", false), mk(2, "b", false),
      mk(3, "b", false))
    val hot = run(Seq("a", "b"), ceiling = 5000L)(
      w, Seq(Decision("s", at(1, 0), "a", true)))
    assert(hot.head.parity_gap_bp == 5000L && hot.head.alarm)
    val cold = run(Seq("a", "b"), ceiling = 5001L)(
      w, Seq(Decision("s", at(1, 0), "a", true)))
    assert(!cold.head.alarm)
  }

  test("sources are monitored independently") {
    val out = run(Seq("a", "b"), ceiling = 1L)(
      Seq(Decision("p", at(0, 0), "a", true), Decision("p", at(0, 1), "b", true),
        Decision("q", at(0, 0), "a", true), Decision("q", at(0, 1), "b", false),
        Decision("p", at(1, 0), "a", true), Decision("q", at(1, 0), "a", true)))
    val byS = out.groupBy(_.source)
    assert(byS("p").head.parity_gap_bp == 0L && !byS("p").head.alarm)
    assert(byS("q").head.parity_gap_bp == 10000L && byS("q").head.alarm)
  }
}
