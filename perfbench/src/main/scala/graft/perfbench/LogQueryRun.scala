package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.query.LogsTable
import graft.store.{LogStore, SearchIndex}
import graft.streaming.StreamIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `log_query` workload, system side. Set-up ingests the generator's
  * newline-JSON epoch files through [[StreamIngest]] (AvailableNow, one
  * file per trigger), appends `context` and `span` through
  * [[LogStore.append]], builds the [[SearchIndex]] and runs the untimed
  * warm-up ops; then one client runs the given op sequence closed-loop
  * through [[LogsTable]] and [[SearchIndex.search]], recording each
  * answer and its latency.
  */
object LogQueryRun {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private val seq = get_json_object(col("data_raw"), "$.seq").cast("long").as("seq")

  /** One op: the frame whose rows are the answer (None for ops whose API
    * returns the answer directly) and the answer as JSON-able values.
    */
  private def op(spark: SparkSession, store: LogStore, root: String, o: JsonNode,
      context: DataFrame, span: DataFrame): (Option[DataFrame], Any) = {
    val logs = LogsTable(store.read(spark, "logs"))
    def str(k: String) = o.get(k).asText
    def window = logs.inTimeRange(ts(o.get("from").asLong), ts(o.get("to").asLong))
    def strings(k: String) = o.get(k).elements().asScala.map(_.asText).toSeq
    def rows(df: DataFrame)(f: Row => Any): (Option[DataFrame], Any) =
      (Some(df), df.collect().map(f).toSeq)
    str("op") match {
      case "lookup" =>
        rows(logs.byCorrelationId(str("id")).df.select(seq))(_.getLong(0))
      case "lookup_enrich" =>
        rows(logs.byCorrelationId(str("id")).withContext(context)
          .select(seq, get_json_object(col("context_data_raw"), "$.plan")))(
          r => Seq(r.getLong(0), r.getString(1)))
      case "spans" =>
        rows(logs.byCorrelationId(str("id")).withSpans(span).select(seq, col("span_id")))(
          r => Seq(r.getLong(0), r.getString(1)))
      case "recent" =>
        rows(window.recent(o.get("n").asInt).select(seq))(_.getLong(0))
      case "range_count" =>
        rows(window.df.groupBy().count())(_.getLong(0))
      case "json_field" =>
        rows(window.df.groupBy(logs.jsonField(str("field")).as("v")).count())(
          r => Seq(r.getString(0), r.getLong(1)))
      case "contains" =>
        val pairs = o.get("pairs").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
        rows(logs.df.filter(logs.jsonContains(pairs)).groupBy().count())(_.getLong(0))
      case "search" =>
        rows(window.searchMessage(strings("patterns")).df.groupBy().count())(_.getLong(0))
      case "search_indexed" =>
        rows(SearchIndex.search(spark, s"$root/logs", strings("patterns"), "message")
          .select(seq))(_.getLong(0))
      case "bucket" =>
        val field = str("field")
        rows(window.timeBucket("hour", Some(field))
          .select(unix_seconds(col("bucket")), col("n"), col("sum_value")))(
          r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2)))
      case "keys" =>
        (None, window.discoverKeys())
      case "decompose" =>
        val ascribed = StructType(Seq(
          StructField("levelname", StringType), StructField("lineno", LongType)))
        rows(window.decompose(ascribed).groupBy("levelname")
          .agg(count(lit(1)), sum("lineno")))(
          r => Seq(r.getString(0), r.getLong(1), r.getLong(2)))
      case other => sys.error(s"unknown op $other")
    }
  }

  /** File-scan nodes of an executed plan, through adaptive stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private def scanMetrics(df: DataFrame): Map[String, Long] = {
    val ss = scans(df.queryExecution.executedPlan)
    def sum(k: String) = ss.flatMap(_.metrics.get(k)).map(_.value).sum
    Map("files" -> sum("numFiles"), "bytes" -> sum("filesSize"),
      "rows" -> sum("numOutputRows"))
  }

  def apply(spark: SparkSession, workDir: File, params: JsonNode, spans: Spans): Map[String, Any] = {
    val trace = params.get("trace").asBoolean
    val root = new File(workDir, "store").getAbsolutePath
    val store = new LogStore(root)
    val input = new File(workDir, "input")

    // ---- set-up: the store as the write path builds it
    val t0 = System.nanoTime()
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1")
      .load(new File(input, "logs").getAbsolutePath)
    val q = StreamIngest.start(raw, store, new File(workDir, "checkpoint").getAbsolutePath,
      availableNow = true)
    q.awaitTermination()
    val ingestS = (System.nanoTime() - t0) / 1e9
    store.append("context", spark.read.schema("correlation_id STRING, data_raw STRING")
      .json(new File(input, "context.ndjson").getAbsolutePath))
    store.append("span", spark.read
      .schema("span_id STRING, correlation_id STRING, description STRING, time_start LONG, time_end LONG")
      .json(new File(input, "span.ndjson").getAbsolutePath)
      .select(col("span_id"), col("correlation_id"), col("description"),
        timestamp_seconds(col("time_start")).as("time_start"),
        timestamp_seconds(col("time_end")).as("time_end")))
    val t1 = System.nanoTime()
    SearchIndex.build(spark, s"$root/logs", "message")
    val indexS = (System.nanoTime() - t1) / 1e9
    val context = store.read(spark, "context")
    val span = store.read(spark, "span")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    def answerOf(o: JsonNode): (Option[DataFrame], Any) =
      scala.util.Try(op(spark, store, root, o, context, span)).fold(
        e => (None, Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")), identity)
    // one untimed round first: the query path's first-use costs are set-up
    val warm = params.get("warm_ops").elements().asScala.toSeq.map { o =>
      Map("op" -> o.get("op").asText, "answer" -> answerOf(o)._2)
    }

    println(s"READY ${System.currentTimeMillis()}")
    Console.out.flush()

    // ---- the timed op sequence, closed loop
    val results = params.get("ops").elements().asScala.toSeq.map { o =>
      val name = o.get("op").asText
      val ((frame, answer), s) = Harness.inSpan(spark, spans, "op", 0L, Map("op" -> name)) {
        answerOf(o)
      }
      val scan = if (trace) frame.map(scanMetrics) else None
      Map("op" -> name, "ms" -> (s.endMs - s.startMs), "answer" -> answer, "scan" -> scan)
    }

    val layers = if (!trace) Map.empty[String, Any] else {
      val stats = store.fileStats(spark, "logs")
      val readPlan = (1 to 7).map { _ =>
        val a = System.nanoTime()
        store.read(spark, "logs").queryExecution.executedPlan
        (System.nanoTime() - a) / 1e6
      }.sorted
      val cands = params.get("index_probe").elements().asScala.map(_.asText).toSeq.map { p =>
        SearchIndex.candidateFiles(spark, s"$root/logs", Seq(p)).map(_.size).getOrElse(-1)
      }
      Map("files_total" -> stats.map(_._2).sum, "bytes_total" -> stats.map(_._3).sum,
        "read_plan_ms" -> readPlan(readPlan.size / 2), "index_candidates" -> cands)
    }
    Map("ingest_s" -> ingestS, "index_build_s" -> indexS, "batches" -> batches,
      "warm_ops" -> warm, "ops" -> results, "layers" -> layers)
  }
}
