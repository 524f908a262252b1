package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The harness's result files: Scala maps, sequences and options as
  * JSON (non-finite doubles as bare `NaN`/`Infinity`, which Python's
  * json module reads).
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def save(file: File, v: Any): Unit = mapper.writeValue(file, v)

  def read(file: File): JsonNode = mapper.readTree(file)
}

/** One traced interval. `parent` is 0 for a root span; every span of a
  * run shares the run's `trace` id.
  */
final case class Span(
    id: Long,
    name: String,
    startMs: Double,
    endMs: Double,
    parent: Long,
    attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written once when the run ends. */
final class Spans(val trace: String) {
  private val nextId = new AtomicLong(0)
  private val buf = ArrayBuffer.empty[Span]

  def newId(): Long = nextId.incrementAndGet()

  def add(s: Span): Unit = synchronized { buf += s }

  def all: Seq[Span] = synchronized(buf.toSeq)

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "trace" -> trace,
      "attrs" -> s.attrs)
  }
}

object Clock {
  /** Wall clock in epoch milliseconds with sub-millisecond resolution:
    * nanoTime offsets from one epoch anchor, so intervals are monotonic.
    */
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Records every Spark job, stage and task-metric total, joined to the
  * benchmark span (local property [[Tracer.SpanKey]]) or the streaming
  * micro-batch (Spark's `sql.streaming.queryId` and
  * `streaming.sql.batchId` job properties) that ran it.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final case class Job(id: Int, startMs: Double, var endMs: Double,
      span: Option[Long], query: Option[String], batch: Option[Long], stageIds: Seq[Int])
  final class StageTotals {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0L
  }

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN,
      prop(SpanKey).map(_.toLong), prop(QueryKey), prop(BatchKey).map(_.toLong), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
    t.tasks += 1
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
    }
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)

  def stageTotals(id: Int): Option[StageTotals] = synchronized(stages.get(id))

  /** Job spans (children of their benchmark span, or of the span
    * `batchSpan(queryId, batchId)` gives their micro-batch) carrying the
    * summed task metrics of their stages.
    */
  def jobSpans(spans: Spans, batchSpan: (String, Long) => Option[Long]): Unit =
    allJobs.foreach { j =>
      val totals = j.stageIds.flatMap(stageTotals)
      def sum(f: StageTotals => Long) = totals.map(f).sum
      val parent = j.span.orElse(
        for (q <- j.query; b <- j.batch; s <- batchSpan(q, b)) yield s).getOrElse(0L)
      spans.add(Span(spans.newId(), "spark.job", j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs, parent,
        Map("job_id" -> j.id, "query" -> j.query, "batch" -> j.batch,
          "stages" -> j.stageIds.size, "tasks" -> sum(_.tasks),
          "executor_run_ms" -> sum(_.runMs),
          "executor_cpu_ms" -> sum(_.cpuNs) / 1e6,
          "shuffle_read_bytes" -> sum(_.shuffleRead),
          "shuffle_write_bytes" -> sum(_.shuffleWrite),
          "spill_bytes" -> sum(_.spill), "gc_ms" -> sum(_.gcMs))))
    }
}

object Tracer {
  /** Job property naming the benchmark span a job runs under. */
  val SpanKey = "perfbench.span"
  /** Job properties Spark sets on every job of a streaming micro-batch. */
  val QueryKey = "sql.streaming.queryId"
  val BatchKey = "streaming.sql.batchId"
}

/** Every `StreamingQueryProgress` of the run, as plain maps; offsets
  * are those of a count-offset source (None otherwise).
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val src = p.sources.headOption
    def off(s: String): Option[Long] = scala.util.Try(s.trim.toLong).toOption
    val row = Map[String, Any](
      "query_id" -> p.id.toString,
      "batch_id" -> p.batchId,
      "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offset" -> src.flatMap(s => off(s.startOffset)),
      "end_offset" -> src.flatMap(s => off(s.endOffset)),
      "latest_offset" -> src.flatMap(s => off(s.latestOffset)))
    synchronized { buf += row }
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toSeq)
}

object Harness {
  def session(workDir: File, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full collection, in MB: the least of a few
    * collections, so garbage a background thread allocates in between
    * does not count.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  /** Runs `f` as a benchmark span: jobs it starts carry the span id. */
  def inSpan[T](spark: SparkSession, spans: Spans, name: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(f: => T): (T, Span) = {
    val id = spans.newId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = Clock.nowMs()
    try {
      val r = f
      val s = Span(id, name, t0, Clock.nowMs(), parent, attrs)
      spans.add(s)
      (r, s)
    } finally sc.setLocalProperty(Tracer.SpanKey, null)
  }

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val workDir = new File(args(1)).getAbsoluteFile
    val params = Json.read(new File(workDir, "params.json"))
    val cpus = params.get("cpus").asInt
    val trace = params.get("trace").asBoolean
    val spark = session(workDir, cpus)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(s"$workload-${params.get("seed").asLong}")
    val result: Map[String, Any] = try workload match {
      case "ingest" => IngestRun(spark, workDir, params, spans)
      case "log_query" => LogQueryRun(spark, workDir, params, spans)
      case "curation" => CurationRun(spark, workDir, params, spans)
      case other => sys.error(s"unknown workload $other")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
    tracer.foreach { t =>
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      val batchSpans = spans.all.filter(_.name == "batch.addBatch")
        .map(s => (s.attrs("query_id").toString, s.attrs("batch_id").asInstanceOf[Long]) -> s.id)
        .toMap
      t.jobSpans(spans, (q, b) => batchSpans.get((q, b)))
    }
    val heap = retainedHeapMb()
    Json.save(new File(workDir, "result.json"),
      result ++ Map("retained_heap_mb" -> heap, "spans" -> spans.toJson,
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "session_ready_ms" -> sessionReadyMs))
    spark.stop()
  }
}
