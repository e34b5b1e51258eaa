package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Chaos cases for the AMQP producer: a broker that dies MID-PUBLISH
  * and a full broker bounce in the middle of a batch. The invariant
  * under test is the reference relay's at-least-once contract
  * (src/main.rs:140-198 reconnects-and-retries in its loop): with
  * publisher confirms on, a producer that retries every failed publish
  * loses NOTHING across connection drops and process restarts — and
  * a publish whose content the broker never accepted does not count
  * as delivered, so the deterministic mid-publish crash yields no
  * duplicate either. */
class AmqpChaosSpec extends AnyFunSuite {

  /** At-least-once producer loop: retry the SAME payload until a
    * confirmed publish succeeds (eviction inside AmqpQueue makes each
    * retry redial instead of reusing the dead socket). */
  private def publishRetrying(q: AmqpQueue, body: String,
      maxTries: Int = 20): Int = {
    var tries = 0
    while (true) {
      tries += 1
      require(tries <= maxTries, s"gave up after $maxTries tries on '$body'")
      try { q.publish(body.getBytes(UTF_8)); return tries }
      catch { case _: java.io.IOException => Thread.sleep(20) }
    }
    tries
  }

  test("mid-publish connection crash: confirmed retry loses nothing, dups nothing") {
    val broker = new FakeAmqpBroker
    val q = new AmqpQueue(
      s"amqp://127.0.0.1:${broker.port}/chaos?confirm=true")
    try {
      val msgs = (0 until 10).map(i => s"chaos-msg-$i")
      var retried = 0
      msgs.foreach { m =>
        // arm the crash under message 5: the broker drops the socket on
        // the Basic.Publish method frame, before accepting any content
        if (m.endsWith("-5")) broker.crashOnNextPublish = true
        if (publishRetrying(q, m) > 1) retried += 1
      }
      assert(retried >= 1, "the armed crash never forced a retry")
      val bodies = broker.awaitPublished(10).map(_._2)
      // every message confirmed at least once → all present…
      assert(bodies.toSet === msgs.toSet)
      // …and the crashed attempt took no content, so exactly-once here
      assert(bodies.size === 10,
        s"mid-publish crash produced a duplicate: $bodies")
      assert(broker.error == null, s"broker error: ${broker.error}")
      q.close()
    } finally broker.stop()
  }

  test("broker bounce mid-batch: union of both incarnations covers every message") {
    val broker1 = new FakeAmqpBroker
    val port = broker1.port
    val q = new AmqpQueue(s"amqp://127.0.0.1:$port/bounce?confirm=true")
    val msgs = (0 until 10).map(i => s"bounce-msg-$i")

    msgs.take(5).foreach(m => assert(publishRetrying(q, m) === 1))
    assert(broker1.awaitPublished(5).map(_._2).toSet === msgs.take(5).toSet)
    broker1.stop() // process crash: server socket + live connections die

    // restart on the same port; the cached client is still wired to the
    // dead incarnation, so the first retry must evict + redial
    val broker2 = new FakeAmqpBroker(fixedPort = port)
    try {
      msgs.drop(5).foreach(m => publishRetrying(q, m))
      val survived = broker1.published.map(_._2) ++
        broker2.awaitPublished(5).map(_._2)
      // at-least-once across the bounce: nothing confirmed is missing
      assert(survived.toSet === msgs.toSet)
      assert(broker2.error == null, s"broker error: ${broker2.error}")
      q.close()
    } finally broker2.stop()
  }
}

/** The END-TO-END recovery story through SPARK's machinery (not just
  * the producer loop): a broker crash mid-micro-batch fails the
  * streaming query; the operator restarts it on the SAME checkpoint;
  * Structured Streaming replays the batch; the evicted client redials;
  * every change row reaches the broker — the reference's
  * crash-restart-retry loop (src/main.rs:140-198) re-expressed as
  * checkpoint replay. */
class PipelineAmqpChaosSpec extends graft.SparkSuite {

  test("broker crash mid-batch fails the query; checkpoint replay redelivers everything") {
    val broker = new FakeAmqpBroker
    val addr = s"amqp://127.0.0.1:${broker.port}/e2e-chaos?confirm=true"
    val store = new InMemoryCursorStore("t-amqp-e2e-chaos")
    val ckpt = Files.createTempDirectory("graft-chaos-ckpt").toString
    val evDir = Files.createTempDirectory("graft-chaos-ev")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    try {
      // run 1: the broker drops the connection on the FIRST publish —
      // the task's IOException fails the micro-batch and the query
      broker.crashOnNextPublish = true
      val p1 = new ChangefeedPipeline(new AmqpQueue(addr), store, ckpt)
      val q1 = p1.start(spark,
        Changefeed.streamFromEventsDir(spark, evDir.toString))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      q1.stop()
      // the batch died before its cursor commit — commit-after-publish
      // ordering means a failed batch leaves NO cursor behind
      assert(store.get().isEmpty, s"cursor leaked from a failed batch: ${store.get()}")

      // run 2: same checkpoint, same store, fresh pipeline — the batch
      // replays, the evicted client redials the (still-running) broker
      val p2 = new ChangefeedPipeline(new AmqpQueue(addr), store, ckpt)
      val q2 = p2.start(spark,
        Changefeed.streamFromEventsDir(spark, evDir.toString))
      q2.processAllAvailable()
      q2.stop()

      // nothing lost: all 1000 change rows durable at the broker at
      // least once (run-1 partial deliveries may pad the COUNT past
      // 1000 before the last replayed key lands, so poll on the key
      // SET, not the message count)
      val want = (0L to 999L).toSet // sf0.001 event_ids
      def publishedKeys(): Set[Long] = broker.published.map(_._2)
        .flatMap(v => "\"key\":\"\\[(\\d+)\\]\"".r
          .findFirstMatchIn(v).map(_.group(1).toLong)).toSet
      val deadline = System.nanoTime() + 60000L * 1000000L
      while (!want.subsetOf(publishedKeys()) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(want.subsetOf(publishedKeys()),
        s"missing keys after replay: ${(want -- publishedKeys()).take(5)}")
      assert(store.get().isDefined, "resolved cursor missing after recovery")
      assert(broker.error == null, s"broker error: ${broker.error}")
      new AmqpQueue(addr).close()
    } finally broker.stop()
  }

  test("without confirms: a batched write into a crashed broker fails the query; replay redelivers everything") {
    val broker = new FakeAmqpBroker
    val addr = s"amqp://127.0.0.1:${broker.port}/e2e-chaos-runs"
    val store = new InMemoryCursorStore("t-amqp-e2e-chaos-runs")
    val ckpt = Files.createTempDirectory("graft-chaos-runs-ckpt").toString
    val evDir = Files.createTempDirectory("graft-chaos-runs-ev")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      evDir.resolve("events.parquet"))
    try {
      // the JVM's cached connection is up; then the broker crashes and
      // its kernel resets the connection, so the first batched write of
      // run 1 meets a dead socket. Fire-and-forget has only the write's
      // error to go on: it must fail the task, the batch and the query.
      new AmqpQueue(addr).publish("warm-up".getBytes(UTF_8))
      broker.awaitPublished(1)
      broker.resetConnections()
      Thread.sleep(200)
      val p1 = new ChangefeedPipeline(new AmqpQueue(addr), store, ckpt)
      val q1 = p1.start(spark,
        Changefeed.streamFromEventsDir(spark, evDir.toString))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      q1.stop()
      assert(store.get().isEmpty, s"cursor leaked from a failed batch: ${store.get()}")

      // run 2: same checkpoint; the write's IOException evicted the dead
      // client, so the replayed batch redials and publishes in runs
      val p2 = new ChangefeedPipeline(new AmqpQueue(addr), store, ckpt)
      val q2 = p2.start(spark,
        Changefeed.streamFromEventsDir(spark, evDir.toString))
      q2.processAllAvailable()
      q2.stop()
      assert(p2.messagesSent.value === 1000L)
      val want = (0L to 999L).toSet // sf0.001 event_ids
      def publishedKeys(): Set[Long] = broker.published.map(_._2)
        .flatMap(v => "\"key\":\"\\[(\\d+)\\]\"".r
          .findFirstMatchIn(v).map(_.group(1).toLong)).toSet
      val deadline = System.nanoTime() + 60000L * 1000000L
      while (!want.subsetOf(publishedKeys()) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(want.subsetOf(publishedKeys()),
        s"missing keys after replay: ${(want -- publishedKeys()).take(5)}")
      assert(store.get().isDefined, "resolved cursor missing after recovery")
      assert(broker.error == null, s"broker error: ${broker.error}")
      new AmqpQueue(addr).close()
    } finally broker.stop()
  }
}
