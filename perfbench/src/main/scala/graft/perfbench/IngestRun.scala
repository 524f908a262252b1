package graft.perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import graft.ingest.IngestTransform
import graft.model.IngestConfig
import graft.store.LogStore
import graft.streaming.{PushSocketSource, StreamIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `ingest` workload, system side: the collector
  * ([[PushSocketSource]]) feeding [[StreamIngest]] into a [[LogStore]],
  * configured as the reference deploys it (IngestConfig defaults, the
  * given queue size). Set-up first runs the same ingest over a file of
  * warm-up lines. The load comes from a separate generator process
  * over TCP; once the stream's first micro-batch has run, this side
  * prints `READY <epoch_ms> <port>`, waits for the
  * line `SENT <n>` on stdin, lets the stream drain, and dumps every
  * progress event plus the final contents of `logs` and `dead_letter`.
  */
object IngestRun {
  val SourceName = "perfbench-ingest"

  def apply(spark: SparkSession, workDir: File, params: JsonNode, spans: Spans): Map[String, Any] = {
    // warm the write path before the clock starts: the same ingest, run
    // once to completion over a file of generator lines
    StreamIngest.start(
      spark.readStream.format("text").load(new File(workDir, "warm").getAbsolutePath),
      new LogStore(new File(workDir, "warm-store").getAbsolutePath),
      new File(workDir, "warm-checkpoint").getAbsolutePath, availableNow = true)
      .awaitTermination()
    val store = new LogStore(new File(workDir, "store").getAbsolutePath)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val raw = PushSocketSource.readStream(spark, SourceName,
      config = IngestConfig(), maxQueue = params.get("max_queue").asInt)
    val q = StreamIngest.start(raw, store,
      new File(workDir, "checkpoint").getAbsolutePath, sourceFlushGated = true)
    // the warm-up query's last events may still be on the listener bus
    def mine = progress.all.filter(_("query_id") == q.id.toString)
    val bindDeadline = System.currentTimeMillis() + 30000
    while (PushSocketSource.boundPort(SourceName).isEmpty &&
      System.currentTimeMillis() < bindDeadline) Thread.sleep(10)
    val port = PushSocketSource.boundPort(SourceName)
      .getOrElse(sys.error("collector never bound"))
    // the stream is up once its first (empty) micro-batch has completed
    while (mine.isEmpty && System.currentTimeMillis() < bindDeadline) Thread.sleep(10)
    println(s"READY ${System.currentTimeMillis()} $port")
    Console.out.flush()

    val line = Option(scala.io.StdIn.readLine()).getOrElse("")
    require(line.startsWith("SENT "), s"unexpected control line '$line'")
    val sent = line.stripPrefix("SENT ").trim.toLong
    // drain: every admitted frame committed by some micro-batch
    val drainDeadline = System.currentTimeMillis() + params.get("drain_timeout_s").asLong * 1000
    def committed = mine.flatMap(_.get("end_offset"))
      .collect { case Some(n: Long) => n }.foldLeft(0L)(math.max)
    while (committed + PushSocketSource.dropped(SourceName) < sent &&
      System.currentTimeMillis() < drainDeadline) Thread.sleep(20)
    q.stop()
    val events = mine
    spark.streams.removeListener(progress)

    events.foreach { e =>
      val d = e("duration_ms").asInstanceOf[Map[String, Long]]
      val start = e("timestamp_ms").asInstanceOf[Long].toDouble
      val total = d.getOrElse("triggerExecution", 0L)
      val batchId = e("batch_id").asInstanceOf[Long]
      val id = spans.newId()
      val key = Map("query_id" -> e("query_id"), "batch_id" -> batchId)
      spans.add(Span(id, "batch", start, start + total, 0L, key + ("rows" -> e("rows"))))
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { phase =>
        d.get(phase).foreach { ms =>
          spans.add(Span(spans.newId(), s"batch.$phase", t, t + ms, id, key))
          t += ms
        }
      }
    }

    val finalState = dumpStore(spark, store, params)
    val layers =
      if (params.get("trace").asBoolean) directLayerCalls(spark, workDir, params, events)
      else Map.empty[String, Any]
    Map("sent" -> sent, "dropped" -> PushSocketSource.dropped(SourceName),
      "progress" -> events) ++ finalState ++ layers
  }

  /** Final read of both tables: (seq, batch) for every stored record,
    * full rows for the sampled sequence numbers, every dead letter.
    */
  private def dumpStore(spark: SparkSession, store: LogStore, params: JsonNode): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val sample = params.get("sample_seqs").elements().asScala.map(_.asLong).toSet
    val logs = store.read(spark, "logs")
      .withColumn("seq", get_json_object(col("data_raw"), "$.seq").cast("long"))
    val stored = logs.select(col("seq"), col("batch_id")).collect()
      .map(r => Seq(if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    val sampled = logs.filter(col("seq").isin(sample.toSeq: _*))
      .select(col("seq"), unix_micros(col("time")).as("time_us"), col("message"),
        col("correlation_id"), col("data_raw"), col("date").cast("string").as("date"))
      .collect().map(r => Map("seq" -> r.getLong(0), "time_us" -> r.getLong(1),
        "message" -> r.getString(2), "correlation_id" -> r.getString(3),
        "data_raw" -> r.getString(4), "date" -> r.getString(5)))
    val dead =
      scala.util.Try(store.read(spark, "dead_letter")).toOption.toSeq.flatMap(
        _.select("raw", "reason").collect().map(r => Seq(r.getString(0), r.getString(1))))
    Map("stored" -> stored.toSeq, "sampled" -> sampled.toSeq, "dead_letter" -> dead)
  }

  private def medianMs(reps: Int)(f: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(ts.length / 2)
  }

  /** Traced run only: the transform and the epoch write called directly
    * on a cached frame of generator lines, outside the stream.
    */
  private def directLayerCalls(spark: SparkSession, workDir: File, params: JsonNode,
      events: Seq[Map[String, Any]]): Map[String, Any] = {
    val lines = spark.read.text(new File(workDir, "warm").getAbsolutePath).persist()
    val n = lines.count()
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    run(IngestTransform(lines)); run(IngestTransform.deadLetter(lines))
    val transformMs = medianMs(5)(run(IngestTransform(lines)))
    val deadMs = medianMs(5)(run(IngestTransform.deadLetter(lines)))
    val steadyEnd = params.get("steady_records").asLong
    val steadyRows = events
      .filter(e => e("end_offset").asInstanceOf[Option[Long]].exists(_ <= steadyEnd))
      .map(_("rows").asInstanceOf[Long]).filter(_ > 0).sorted
    val batchRows = math.max(1L, if (steadyRows.isEmpty) 100L else steadyRows(steadyRows.size / 2))
    val batch = IngestTransform(lines.limit(batchRows.toInt)).persist()
    batch.count()
    val scratch = new LogStore(new File(workDir, "append-store").getAbsolutePath)
    var epoch = 0L
    def append(): Unit = { scratch.appendIdempotent("logs", batch, "direct", epoch); epoch += 1 }
    append()
    val appendMs = medianMs(7)(append())
    batch.unpersist(); lines.unpersist()
    Map("direct" -> Map("transform_ms_per_krow" -> transformMs / (n / 1000.0),
      "dead_letter_ms_per_krow" -> deadMs / (n / 1000.0),
      "append_p50_ms" -> appendMs, "append_rows" -> batchRows))
  }
}
