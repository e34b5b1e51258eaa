package graft.cdc

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Reference CLI/metrics parity: GraftConfig mirrors cli.yml,
  * GraftMetrics mirrors src/metrics.rs (counter registry + /metrics
  * text endpoint), asserted against a real pipeline run. */
class ConfigMetricsSpec extends SparkSuite {
  import spark.implicits._

  test("config parses the reference's four flags with its defaults") {
    val c = GraftConfig.fromArgs(Seq(
      "--table", "events", "--queue", "inmemory:q1",
      "--cursor-store", "file:/tmp/c1", "--cursor-frequency", "30s"))
    assert(c.table === "events")
    assert(c.queue === "inmemory:q1")
    assert(c.cursorStore === "file:/tmp/c1")
    assert(c.cursorFrequencyUs === 30000000L)

    val d = GraftConfig.fromArgs(Seq("--table", "events"))
    assert(d.queue === "inmemory:default")
    assert(d.cursorFrequency === "10s")

    intercept[IllegalArgumentException](GraftConfig.fromArgs(Seq.empty))
    intercept[IllegalArgumentException](
      GraftConfig.fromArgs(Seq("--table", "t", "--bogus", "x")))
    intercept[IllegalArgumentException](
      GraftConfig(table = "t", cursorFrequency = "soon").cursorFrequencyUs)
    assert(GraftConfig.parseDurationUs("500ms") === 500000L)
    assert(GraftConfig.parseDurationUs("2m") === 120000000L)
    assert(GraftConfig.parseDurationUs("1h") === 3600000000L)
  }

  test("config factories build the queue and cursor store; unknown schemes fail") {
    val c = GraftConfig(table = "events", queue = "inmemory:cfg-q",
      cursorStore = "file:" + Files.createTempDirectory("graft-cfg").resolve("cur"))
    assert(c.newQueue().isInstanceOf[InMemoryQueue])
    assert(c.newCursorStore().isInstanceOf[FileCursorStore])
    intercept[IllegalArgumentException](
      GraftConfig(table = "t", queue = "rabbitmq:amqp://x").newQueue())
    intercept[IllegalArgumentException](
      GraftConfig(table = "t", queue = "file:/tmp/fq").newQueue())
    // the reference's AMQP path (AMQP_ADDR / --queue amqp://...) maps
    // to the built-in 0-9-1 publisher; parse is eager, connect is lazy
    assert(GraftConfig(table = "t", queue = "amqp://u:p@h:5672/q")
      .newQueue().isInstanceOf[AmqpQueue])
    intercept[IllegalArgumentException](
      GraftConfig(table = "t", queue = "amqp://missing-port/q").newQueue())
    intercept[IllegalArgumentException](
      GraftConfig(table = "t", cursorStore = "cockroachdb:pg://x").newCursorStore())
    intercept[IllegalArgumentException](
      GraftConfig(table = "t", queue = "noscheme").newQueue())
  }

  test("metrics expose pipeline counters as DataFrame and Prometheus text after a run") {
    val qname = "t-metrics"
    InMemoryQueue.clear(qname)
    val config = GraftConfig.fromArgs(Seq(
      "--table", "events", "--queue", s"inmemory:$qname",
      "--cursor-store", s"inmemory:$qname"))
    val pipeline = new ChangefeedPipeline(config.newQueue(), config.newCursorStore(),
      Files.createTempDirectory("graft-met-ckpt").toString)

    val hourUs = 3600000000L
    val in = MemoryStream[Ev](91, spark, None)
    in.addData(
      Ev(1, new java.sql.Timestamp((hourUs + 1) / 1000), 1, "click", 1.0, "{}"),
      Ev(2, new java.sql.Timestamp((hourUs + 2) / 1000), 2, "view", 2.0, "{}"))
    val q = pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()

    val metrics = new GraftMetrics(spark)
    metrics.register("rabbitmq_messages_sent", pipeline.messagesSent)
    metrics.register("cursors_committed", pipeline.cursorsCommitted)

    val snap = metrics.snapshot().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap("rabbitmq_messages_sent") === 2L)
    assert(snap("cursors_committed") === 1L)

    val server = metrics.serve(0)
    try {
      val port = server.getAddress.getPort
      val body = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics")).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("# TYPE rabbitmq_messages_sent counter"))
      assert(body.contains("rabbitmq_messages_sent 2"))
      assert(body.contains("cursors_committed 1"))
    } finally server.stop(0)
  }

  test("dead-letter-queue flag parses with the queue grammar, defaults off") {
    val cfg = GraftConfig.fromArgs(Seq("--table", "events"), Map.empty)
    assert(cfg.deadLetterQueue === None && cfg.newDeadLetterQueue() === None)
    val withDlq = GraftConfig.fromArgs(
      Seq("--table", "events", "--dead-letter-queue", "inmemory:poison"), Map.empty)
    assert(withDlq.newDeadLetterQueue().exists(_.isInstanceOf[InMemoryQueue]))
    intercept[IllegalArgumentException] {
      GraftConfig.fromArgs(
        Seq("--table", "events", "--dead-letter-queue", "bogus:x"), Map.empty)
        .newDeadLetterQueue()
    }
    // changefeed: is batch-write-only — a DLQ publishes per record, so
    // the spec must be rejected HERE, not explode mid-stream later
    intercept[IllegalArgumentException] {
      GraftConfig.fromArgs(
        Seq("--table", "events", "--dead-letter-queue", "changefeed:/tmp/x"),
        Map.empty).newDeadLetterQueue()
    }
  }
}
