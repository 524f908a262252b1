package graft

import java.nio.file.Files
import java.util.UUID

import java.nio.charset.StandardCharsets

import graft.store.LogStore
import graft.streaming.{PushSocketSource, StreamIngest, Zmtp}

/** End-to-end over the real network edge — the Spark analog of the
  * reference's black-box sender tests (reference: tests/test_sender.py:
  * 37-61 one sender's messages all arrive, :64-94 two concurrent senders
  * fan into one collector). Senders are real TCP clients connecting to
  * the bound collector port, mirroring PUSH-connect / PULL-bind
  * (reference: venus/io/__init__.py:85, contrib/zmqlog/bind_collector/).
  */
class PushSocketSourceSpec extends SparkSpec {
  import spark.implicits._

  private def record(msg: String): String =
    s"""{"created":${System.currentTimeMillis() / 1000.0},"message":"$msg",""" +
      s""""correlation_id":"${UUID.randomUUID()}","filename":"sender.py"}"""

  test("two concurrent senders -> bound collector -> logs superset (e2e)") {
    val root = Files.createTempDirectory("graft-pushsock").toString
    val store = new LogStore(s"$root/store")
    val name = s"ingest-${UUID.randomUUID()}"

    val raw = spark.readStream
      .format("graft.streaming.PushSocketSourceProvider")
      .option("name", name)
      .option("port", "0")
      .load()
    val q = StreamIngest.start(raw, store, s"$root/ckpt",
      sourceFlushGated = true) // push source carries its own flush gate
    try {
      // the source (and its server socket) is created lazily when the
      // stream plans its first batch — wait for the port registration
      val bindDeadline = System.currentTimeMillis() + 15000
      while (PushSocketSource.boundPort(name).isEmpty &&
        System.currentTimeMillis() < bindDeadline) Thread.sleep(50)
      val port = PushSocketSource.boundPort(name)
        .getOrElse(fail("collector never bound"))
      val sent1 = (1 to 10).map(_ => UUID.randomUUID().toString)
      val sent2 = (1 to 10).map(_ => UUID.randomUUID().toString)
      // two producers, concurrent connections (test_sender.py:64-94 shape)
      val t1 = new Thread(() =>
        PushSocketSource.send("localhost", port, sent1.map(record)))
      val t2 = new Thread(() =>
        PushSocketSource.send("localhost", port, sent2.map(record)))
      t1.start(); t2.start(); t1.join(); t2.join()
      // frames are admitted by the acceptor threads asynchronously; keep
      // draining micro-batches until everything sent has landed
      val want = sent1.toSet ++ sent2
      def delivered(): Set[String] =
        scala.util.Try(store.read(spark, "logs")
          .select("message").as[String].collect().toSet)
          .getOrElse(Set.empty)
      val deadline = System.currentTimeMillis() + 20000
      var messages = delivered()
      while (!want.subsetOf(messages) && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
        messages = delivered()
      }
      // the reference's exact assertion: delivered ⊇ sent, both senders
      assert(sent1.toSet.subsetOf(messages), "sender 1 messages missing")
      assert(sent2.toSet.subsetOf(messages), "sender 2 messages missing")
      assert(PushSocketSource.dropped(name) == 0)
    } finally q.stop()
  }

  test("real ZMTP producer: venus-shaped 2-frame multipart lands in logs (e2e)") {
    val root = Files.createTempDirectory("graft-zmtp").toString
    val store = new LogStore(s"$root/store")
    val name = s"zmtp-${UUID.randomUUID()}"

    val raw = spark.readStream
      .format("graft.streaming.PushSocketSourceProvider")
      .option("name", name)
      .option("port", "0")
      .load()
    val q = StreamIngest.start(raw, store, s"$root/ckpt",
      sourceFlushGated = true) // push source carries its own flush gate
    try {
      val bindDeadline = System.currentTimeMillis() + 15000
      while (PushSocketSource.boundPort(name).isEmpty &&
        System.currentTimeMillis() < bindDeadline) Thread.sleep(50)
      val port = PushSocketSource.boundPort(name)
        .getOrElse(fail("collector never bound"))
      // a zmq.PUSH producer's wire shape (PUBHandler / Message(level,
      // message), reference: models.py:5-7): frame 0 = level topic,
      // frame 1 = the JSON payload — sent over real ZMTP framing
      val sent = (1 to 25).map(_ => UUID.randomUUID().toString)
      val messages = sent.map { m =>
        Seq("INFO".getBytes(StandardCharsets.UTF_8),
          record(m).getBytes(StandardCharsets.UTF_8))
      }
      // plus one long frame (>255 bytes) to cross the short/long boundary
      val longMsg = "L" * 300
      Zmtp.sendMultipart("localhost", port,
        messages :+ Seq("INFO".getBytes(StandardCharsets.UTF_8),
          record(longMsg).getBytes(StandardCharsets.UTF_8)))
      val want = sent.toSet + longMsg
      def delivered(): Set[String] =
        scala.util.Try(store.read(spark, "logs")
          .select("message").as[String].collect().toSet)
          .getOrElse(Set.empty)
      val deadline = System.currentTimeMillis() + 20000
      var messages2 = delivered()
      while (!want.subsetOf(messages2) && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
        messages2 = delivered()
      }
      // the reference's exact assertion shape: delivered ⊇ sent
      assert(want.subsetOf(messages2), "ZMTP producer messages missing")
      assert(PushSocketSource.dropped(name) == 0)
    } finally q.stop()
  }

  /** Ingest from a collector whose flush gate holds frames until the
    * oldest is `ageMs` old, so each burst below `flushSize` becomes one
    * micro-batch. Runs `body(port, name, rowsInLogs)` and stops the query.
    */
  private def withGatedCollector(maxQueue: Int, ageMs: Long)(
      body: (Int, String, () => Seq[String]) => Unit): Unit = {
    val root = Files.createTempDirectory("graft-pushq").toString
    val store = new LogStore(s"$root/store")
    val name = s"queue-${UUID.randomUUID()}"
    val raw = spark.readStream
      .format("graft.streaming.PushSocketSourceProvider")
      .option("name", name)
      .option("port", "0")
      .option("maxQueue", maxQueue.toString)
      .option("flushSize", "1000000")
      .option("flushAgeMs", ageMs.toString)
      .load()
    val q = StreamIngest.start(raw, store, s"$root/ckpt",
      sourceFlushGated = true)
    try {
      val bindDeadline = System.currentTimeMillis() + 15000
      while (PushSocketSource.boundPort(name).isEmpty &&
        System.currentTimeMillis() < bindDeadline) Thread.sleep(50)
      val port = PushSocketSource.boundPort(name)
        .getOrElse(fail("collector never bound"))
      def messages(): Seq[String] =
        scala.util.Try(store.read(spark, "logs")
          .select("message").as[String].collect().toSeq)
          .getOrElse(Seq.empty)
      body(port, name, () => {
        q.processAllAvailable()
        messages()
      })
    } finally q.stop()
  }

  /** Poll `rows` until it holds at least `n` rows or 60 s pass. */
  private def awaitRows(rows: () => Seq[String], n: Int): Seq[String] = {
    val deadline = System.currentTimeMillis() + 60000
    var got = rows()
    while (got.size < n && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      got = rows()
    }
    got
  }

  test("a 65,536 burst after a finished batch loses nothing at maxQueue 65,536") {
    // the finished batch's frames stay buffered until the next batch
    // commits them; the queue bound must count only unreleased frames,
    // or the burst drops as many frames as that batch read
    withGatedCollector(maxQueue = 65536, ageMs = 2000L) { (port, name, rows) =>
      val small = (1 to 10).map(i => s"small-$i")
      PushSocketSource.send("localhost", port, small.map(record))
      assert(awaitRows(rows, small.size).toSet == small.toSet)
      val burst = (1 to 65536).map(i => s"burst-$i")
      PushSocketSource.send("localhost", port, burst.map(record))
      val got = awaitRows(rows, small.size + burst.size)
      assert(PushSocketSource.dropped(name) == 0)
      assert(got.size == small.size + burst.size)
      assert(got.toSet == (small ++ burst).toSet)
    }
  }

  test("unreleased frames beyond maxQueue are dropped and counted") {
    withGatedCollector(maxQueue = 50, ageMs = 1000L) { (port, name, rows) =>
      val sent = (1 to 80).map(i => s"frame-$i")
      PushSocketSource.send("localhost", port, sent.map(record))
      val got = awaitRows(rows, 50)
      // one connection admits in order: the first 50 fit, the last 30 drop
      assert(got.toSet == sent.take(50).toSet)
      assert(PushSocketSource.dropped(name) == 30)
    }
  }
}
