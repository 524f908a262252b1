package graft

import graft.streaming.{DriftMonitor, MonitorReplay}
import graft.streaming.DriftMonitor.{Doc, WinRow}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming corpus drift: md5-bucket and tokenizer parity with the batch
  * expressions, JS agreement with `distributionDrift` on the same window
  * contents, identical-mix zero, rollover, cumulative convergence, the
  * drift alarm, and per-source independence.
  */
class DriftMonitorSpec extends SparkSpec {
  import spark.implicits._

  private val HourMs = 3600000L
  private val B = 16

  private def at(win: Int, i: Int) =
    new Timestamp(win.toLong * HourMs + i * 1000L)

  /** The batch operator's bucket expression over a token column. */
  private def sparkBuckets(toks: Seq[String]): Seq[Int] =
    toks.toDF("tok").select(
      (conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long") % B).cast("int").as("b"))
      .collect().map(_.getInt(0)).toSeq

  /** Reference histogram via the monitor's own draw (parity test below
    * makes this interchangeable with the Spark expression path). */
  private def refCountsOf(texts: Seq[String]): Seq[Long] = {
    val c = Array.fill(B)(0L)
    texts.flatMap(DriftMonitor.tokensOf).foreach { t =>
      c(DriftMonitor.bucketOf(t, B)) += 1L
    }
    c.toSeq
  }

  private def run(
      refCounts: Seq[Long], jsCeiling: Double = 0.2)(
      batches: Seq[Doc]*): Seq[WinRow] =
    MonitorReplay.runStreamBatches[Doc, WinRow](spark, batches,
      ds => DriftMonitor.monitor(
        ds, refCounts, jsCeiling, windowMs = HourMs))
      .sortBy(r => (r.source, r.window_start))

  test("bucket draw and tokenizer match the batch expressions") {
    val toks = Seq("the", "quick", "brown", "fox", "Árvíz", "naïve",
      "a", "b", "zz", "token-with-dash", "12345", "mixedCASE")
    assert(sparkBuckets(toks) == toks.map(DriftMonitor.bucketOf(_, B)))
    val texts = Seq("  The QUICK  brown\tfox ", "", "  ", "one two\nthree")
    val sparkToks = texts.toDF("text")
      .select(explode(filter(split(lower(trim(col("text"))), "\\s+"),
        t => length(t) > 0)).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(sparkToks == texts.flatMap(DriftMonitor.tokensOf))
  }

  test("agrees with the batch operator on the same window contents") {
    val refTexts = (0 until 30).map(i =>
      s"alpha beta gamma delta tok$i shared common words")
    val winTexts = (0 until 20).map(i =>
      s"epsilon zeta tok${i * 3} shared common drifted vocab here")
    val batchJs = operators.CorpusAnalytics.distributionDrift(
      refTexts.toDF("text"), winTexts.toDF("text"), buckets = B)
      .collect().head.getAs[Double]("js")
    val out = run(refCountsOf(refTexts))(
      winTexts.zipWithIndex.map { case (t, i) => Doc("s", at(0, i), t) } :+
        Doc("s", at(1, 0), "closer"))
    assert(out.head.n_tokens == winTexts.flatMap(DriftMonitor.tokensOf).size.toLong)
    assert(out.head.js == batchJs)
  }

  test("identical token mix gives zero divergence, disjoint mix alarms") {
    val texts = Seq("aa bb cc dd", "ee ff gg hh", "ii jj kk ll")
    val same = run(refCountsOf(texts))(
      texts.zipWithIndex.map { case (t, i) => Doc("s", at(0, i), t) } :+
        Doc("s", at(1, 0), "x"))
    assert(same.head.js == 0.0 && !same.head.alarm)
    // deterministic value 0.1243 — add-1 smoothing over 16 buckets
    // flattens small histograms, so "disjoint" tops out well under ln 2
    val disjoint = run(refCountsOf(texts), jsCeiling = 0.05)(
      Seq(Doc("s", at(0, 0), "qq rr ss tt uu vv ww xx yy zz " * 5),
        Doc("s", at(1, 0), "x")))
    assert(disjoint.head.js > 0.05 && disjoint.head.alarm)
  }

  test("windows roll over and the cumulative histogram converges back") {
    // window 0 matches the reference, window 1 is disjoint; the cumulative
    // histogram blends both, so cum_js sits strictly between the two
    val refTexts = Seq("aa bb cc dd aa bb cc dd")
    val w0 = Seq(Doc("s", at(0, 0), "aa bb cc dd aa bb cc dd"))
    val w1 = Seq(Doc("s", at(1, 0), "pp qq rr ss pp qq rr ss"))
    val close = Seq(Doc("s", at(2, 0), "x"))
    val out = run(refCountsOf(refTexts), jsCeiling = 0.05)(w0, w1, close)
    assert(out.size == 2)
    assert(out(0).js == 0.0 && out(0).cum_js == 0.0 && !out(0).alarm)
    assert(out(1).js > 0.05 && out(1).alarm)
    assert(out(1).cum_js > 0.0 && out(1).cum_js < out(1).js)
  }

  test("sources are monitored independently") {
    val refTexts = Seq("aa bb cc dd")
    val out = run(refCountsOf(refTexts), jsCeiling = 0.02)(
      Seq(Doc("a", at(0, 0), "aa bb cc dd"),
        Doc("b", at(0, 0), "pp qq rr ss tt uu vv ww"),
        Doc("a", at(1, 0), "x"), Doc("b", at(1, 0), "x")))
    val byS = out.groupBy(_.source)
    assert(byS("a").head.js == 0.0 && !byS("a").head.alarm)
    assert(byS("b").head.js > 0.02 && byS("b").head.alarm)
  }
}
