package graft.cdc

import java.nio.file.Files
import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Case class mirroring the events schema for MemoryStream input. */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

class ChangefeedPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def ev(id: Long, us: Long): Ev =
    Ev(id, new java.sql.Timestamp(us / 1000), id % 7, "click", 1.25, s"""{"k": $id}""")

  private def ckpt(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("pipeline publishes envelopes and commits the resolved cursor") {
    val qname = "t-publish"
    InMemoryQueue.clear(qname)
    val store = new FileCursorStore(
      Files.createTempDirectory("graft-cur").resolve("cursor").toString)
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())

    val in = MemoryStream[Ev](1, spark, None)
    val hourUs = 3600000000L
    in.addData(ev(1, hourUs + 1), ev(2, hourUs + 2), ev(3, 2 * hourUs + 1))
    val q = pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()

    val msgs = InMemoryQueue.messages(qname)
    assert(msgs.size === 3)
    // exact envelope shape from the reference README / model.rs
    val m1 = msgs.find(_.contains("\"key\":\"[1]\"")).get
    assert(m1.startsWith("""{"table":"events","key":"[1]","value":{"after": {"event_id": 1"""))
    assert(m1.contains(""""value_cents": 125"""))
    assert(pipeline.messagesSent.value === 3L)
    // resolved cursor = end of the max event hour (3h boundary)
    assert(store.get() === Some((3 * hourUs).toString))
  }

  test("restart resumes after the stored cursor (skips already-published rows)") {
    val qname = "t-resume"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore("t-resume")
    val hourUs = 3600000000L
    store.set((2 * hourUs).toString) // everything in hours 1-2 already done

    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    val in = MemoryStream[Ev](2, spark, None)
    in.addData(ev(1, hourUs + 1000), ev(2, 2 * hourUs + 5000), ev(3, 2 * hourUs + 7000))
    val q = pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()

    val msgs = InMemoryQueue.messages(qname)
    assert(msgs.size === 2) // event 1 (hour 1) skipped
    assert(!msgs.exists(_.contains("\"key\":\"[1]\"")))
  }

  test("a cursor behind the GC floor is dropped and the feed restarts from scratch") {
    val qname = "t-gc"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore("t-gc")
    store.set("5") // ancient cursor
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt(),
      gcFloorUs = Some(1000000L))

    val in = MemoryStream[Ev](3, spark, None)
    in.addData(ev(1, 3600000000L + 1))
    intercept[InvalidCursorException] {
      pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    }
    val q = pipeline.startWithRetry(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()
    assert(InMemoryQueue.messages(qname).size === 1)
  }

  test("file-based changefeed stream drives the pipeline end-to-end") {
    val qname = "t-filestream"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore("t-filestream")
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    // the file stream source wants a directory of files
    val dir = Files.createTempDirectory("graft-evdir")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val frame = Changefeed.streamFromEventsDir(spark, dir.toString)
    val q = pipeline.start(spark, frame)
    q.processAllAvailable(); q.stop()
    assert(InMemoryQueue.messages(qname).size === 1000) // one per event
    assert(store.get().isDefined) // resolved cursor committed
    assert(pipeline.messagesSent.value === 1000L)
  }

  test("--cursor-frequency drives the resolved-row cadence seen by the DSv2 stream") {
    import org.apache.spark.sql.functions.col
    val cfg = GraftConfig.fromArgs(
      Seq("--table", "events", "--cursor-frequency", "30m"), Map.empty)
    val f = cfg.cursorFrequencyUs
    assert(f === 1800000000L)
    val minUs = 60000000L
    // events at 0:05, 0:20, 0:40, 1:10 → 30-min bucket ends 0:30, 1:00, 1:30
    val events = Seq(ev(1, 5 * minUs), ev(2, 20 * minUs),
      ev(3, 40 * minUs), ev(4, 70 * minUs)).toDF()
    val logDir = Files.createTempDirectory("graft-cadence").toString
    Changefeed.changefeedFrameFrom(events, f)
      .write.format("graft-changefeed").option("path", logDir)
      .mode("append").save()
    val q = spark.readStream.format("graft-changefeed")
      .option("path", logDir).load()
      .writeStream.format("memory").queryName("cadence")
      .option("checkpointLocation", ckpt()).start()
    q.processAllAvailable(); q.stop()
    val resolved = spark.table("cadence")
      .where(col("tbl").isNull && col("key").isNull)
      .select("sort_us").collect().map(_.getLong(0)).toSet
    assert(resolved === Set(1L, 2L, 3L).map(_ * f),
      s"resolved cadence off the 30m grid: $resolved")
    // the hourly default would have emitted only 1:00 and 2:00
    assert(resolved.exists(_ % 3600000000L != 0))
  }

  test("file queue writes idempotent per-batch JSONL; cursor store survives restart") {
    val dir = Files.createTempDirectory("graft-fq").toString
    val fq = new FileQueue(dir)
    val payloads = Seq("{\"a\":1}", "{\"a\":2}", "{\"a\":3}").toDF("payload")
    ChangefeedPipeline.publishToFileQueue(payloads, 7L, fq)
    ChangefeedPipeline.publishToFileQueue(payloads, 7L, fq) // re-run same batch
    import scala.jdk.CollectionConverters._
    val lines = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(lines.sorted === Seq("{\"a\":1}", "{\"a\":2}", "{\"a\":3}"))

    val curPath = Files.createTempDirectory("graft-cur2").resolve("c").toString
    val s1 = new FileCursorStore(curPath)
    assert(s1.get() === None)
    s1.set("12345")
    val s2 = new FileCursorStore(curPath) // "restart"
    assert(s2.get() === Some("12345"))
  }

  test("malformed payloads route to the DLQ; good rows publish; cursor advances") {
    val qname = "t-dlq"; val dname = "t-dlq-dead"
    InMemoryQueue.clear(qname); InMemoryQueue.clear(dname)
    val store = new InMemoryCursorStore("t-dlq")
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt(),
      deadLetterQueue = Some(new InMemoryQueue(dname)))
    val in = MemoryStream[RawFeedRow](91, spark, None)
    val good = (1 to 4).map(i => RawFeedRow(i, Some("events"), Some(s"[$i]"),
      s"""{"after": {"event_id": $i}}"""))
    val bad = Seq(
      RawFeedRow(5, Some("events"), Some("[5]"), """{"afte"""), // truncated
      RawFeedRow(6, Some("events"), Some("[6]"), """{"nope": 1}"""), // no after
      // valid NON-OBJECT JSON: parses, but has no keys — three-valued
      // logic would make `malformed` NULL and silently drop these;
      // they must dead-letter like any other poison
      RawFeedRow(9, Some("events"), Some("[9]"), "42"), // bare scalar
      RawFeedRow(10, Some("events"), Some("[10]"), "[1, 2]")) // bare array
    // a tombstone (DELETE) carries `"after": null` — legitimate, must
    // publish, NOT dead-letter
    val tombstone = RawFeedRow(8, Some("events"), Some("[8]"),
      """{"after": null}""")
    val resolved = RawFeedRow(7, None, None,
      """{"resolved": "7.0000000000"}""")
    in.addData(good ++ bad :+ tombstone :+ resolved: _*)
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    // exactly the parseable change rows (incl. the tombstone) published
    val msgs = InMemoryQueue.messages(qname)
    assert(msgs.size === 5)
    assert(msgs.count(_.contains(""""value":{"after": null}""")) === 1)
    // poison rows preserved RAW in the dead letter queue
    assert(InMemoryQueue.messages(dname).toSet === bad.map(_.value).toSet)
    assert(pipeline.messagesSent.value === 5L)
    assert(pipeline.messagesDeadLettered.value === 4L)
    // the resolved cursor still committed — poison never stalls the feed
    assert(store.get() === Some("7"))
  }

  private def change(i: Int): RawFeedRow =
    RawFeedRow(i, Some("events"), Some(s"[$i]"), s"""{"after": {"event_id": $i}}""")
  private def resolvedAt(us: Long, value: String = null): RawFeedRow =
    RawFeedRow(us, None, None, Option(value).getOrElse(s"""{"resolved": "$us.0000000000"}"""))

  test("a batch of only resolved rows commits their max and publishes nothing") {
    val qname = "t-only-resolved"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore(qname)
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    val in = MemoryStream[RawFeedRow](93, spark, None)
    in.addData(resolvedAt(5), resolvedAt(9), resolvedAt(7))
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    assert(store.get() === Some("9"))
    assert(InMemoryQueue.messages(qname).isEmpty)
    assert(pipeline.cursorsCommitted.value === 1L)
  }

  test("a batch without resolved rows publishes and leaves the cursor untouched") {
    val qname = "t-no-resolved"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore(qname)
    store.set("3")
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    val in = MemoryStream[RawFeedRow](94, spark, None)
    in.addData((4 to 9).map(change): _*)
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    assert(InMemoryQueue.messages(qname).size === 6)
    assert(store.get() === Some("3"))
    assert(pipeline.cursorsCommitted.value === 0L)
  }

  test("a resolved row whose value does not parse is ignored") {
    val qname = "t-bad-resolved"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore(qname)
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    val in = MemoryStream[RawFeedRow](95, spark, None)
    val q = pipeline.start(spark, in.toDF())
    // alone, an unparseable resolved row commits nothing...
    in.addData(change(1), resolvedAt(20, """{"resolved": "2"""))
    q.processAllAvailable()
    assert(store.get() === None)
    // ...and beside a parseable one it does not take part in the max
    in.addData(resolvedAt(30, "not json"), resolvedAt(40, """{"other": "40.0"}"""),
      resolvedAt(50, """{"resolved": "soon"}"""), resolvedAt(12))
    q.processAllAvailable(); q.stop()
    assert(store.get() === Some("12"))
    assert(InMemoryQueue.messages(qname).size === 1)
  }

  test("a crash between publish and cursor commit loses nothing on restart") {
    val qname = "t-crash"
    InMemoryQueue.clear(qname)
    FailingQueue.calls.remove(qname)
    val store = new InMemoryCursorStore(qname)
    val cp = ckpt()
    val in = MemoryStream[RawFeedRow](96, spark, None)
    val first = Seq(change(1), change(2), resolvedAt(10))
    val second = (11 to 18).map(change) :+ resolvedAt(20)
    // publish #5 is the third change row of the second batch: the
    // broker drops after part of that batch went out
    val crashing = new ChangefeedPipeline(new FailingQueue(qname, failOn = 5), store, cp)
    val q1 = crashing.start(spark, in.toDF())
    in.addData(first: _*)
    q1.processAllAvailable()
    assert(store.get() === Some("10"))
    in.addData(second: _*)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    // the failed batch committed no cursor, though its resolved row was read
    assert(store.get() === Some("10"))
    assert(InMemoryQueue.messages(qname).size < 2 + 8)

    // restart from the same checkpoint: the failed batch runs again whole
    val healthy = new ChangefeedPipeline(new InMemoryQueue(qname), store, cp)
    val q2 = healthy.start(spark, in.toDF())
    q2.processAllAvailable(); q2.stop()
    assert(store.get() === Some("20"))
    assert(healthy.messagesSent.value === 8L) // every row of that batch
    val msgs = InMemoryQueue.messages(qname)
    val want = (first ++ second).filter(_.tbl.isDefined).map(r =>
      s"""{"table":"events","key":"${r.key.get}","value":${r.value}}""")
    assert(msgs.toSet === want.toSet) // nothing lost, nothing foreign
    // duplicates come only from the batch that failed
    val dups = msgs.groupBy(identity).collect { case (m, n) if n.size > 1 => m }.toSet
    val secondBatch = want.drop(2).toSet
    assert(dups.subsetOf(secondBatch))
  }

  test("without a DLQ the relay forwards bytes verbatim (reference behavior)") {
    val qname = "t-nodlq"
    InMemoryQueue.clear(qname)
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname),
      new InMemoryCursorStore("t-nodlq"), ckpt())
    val in = MemoryStream[RawFeedRow](92, spark, None)
    in.addData(RawFeedRow(1, Some("events"), Some("[1]"), """{"nope": 1}"""))
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    // the reference publishes whatever the feed carried (model.rs:74-91)
    assert(InMemoryQueue.messages(qname).size === 1)
    assert(pipeline.messagesDeadLettered.value === 0L)
  }
}

/** A queue whose `failOn`-th publish (counted per name across the
  * JVM's tasks) throws, as a broker that drops mid-batch would; every
  * other publish lands in the [[InMemoryQueue]] of the same name. */
class FailingQueue(name: String, failOn: Int) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit = {
    if (FailingQueue.calls.getOrElseUpdate(name,
        new java.util.concurrent.atomic.AtomicInteger).incrementAndGet() == failOn)
      throw new java.io.IOException(s"broker dropped at publish $failOn")
    InMemoryQueue.buffer(name).add(new String(data, "UTF-8"))
    ()
  }
}

object FailingQueue {
  val calls = scala.collection.concurrent.TrieMap.empty[String,
    java.util.concurrent.atomic.AtomicInteger]
}

/** Raw (sort_us, tbl, key, value) feed row for poison-payload tests. */
case class RawFeedRow(sort_us: Long, tbl: Option[String],
    key: Option[String], value: String)
