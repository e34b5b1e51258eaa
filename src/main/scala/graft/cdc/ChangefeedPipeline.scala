package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

/** InvalidCursor — the stored cursor predates the source's retention
  * floor, the moral equivalent of CockroachDB's "batch timestamp must
  * be after replica GC threshold" error (reference src/main.rs:180-198). */
class InvalidCursorException(msg: String) extends RuntimeException(msg)

/** Structured-Streaming re-expression of the reference's changefeed
  * processing loop (src/main.rs:117-253):
  *
  *   1. read the stored cursor; resume the feed after it,
  *   2. per micro-batch: change rows → ChangePayload envelope →
  *      publish to the MessageQueue from executor tasks,
  *   3. resolved rows → max resolved timestamp → cursor-store upsert
  *      (driver side, one value per batch),
  *   4. a cursor older than the retention floor raises InvalidCursor;
  *      `startWithRetry` drops it and restarts from scratch — exactly
  *      the reference's ignore_cursor retry.
  *
  * Scale: a micro-batch is one pass over its rows. Classify/envelope
  * are narrow maps; publish parallelism = partition count; each
  * partition folds its resolved timestamps into a max accumulator (or
  * an observed aggregate on the changefeed-log sink), so there is no
  * global step and no second read of the source. The cursor commits
  * after the batch's publishes, so the pipeline is at-least-once into
  * the queue (same semantics as the reference).
  */
class ChangefeedPipeline(
    queue: MessageQueue,
    cursorStore: CursorStore,
    checkpointDir: String,
    gcFloorUs: Option[Long] = None,
    trigger: Option[Trigger] = None,
    deadLetterQueue: Option[MessageQueue] = None,
    tableRouter: Option[String => MessageQueue] = None) extends Serializable {

  /** rabbitmq_messages_sent equivalent (reference src/metrics.rs). */
  @volatile var messagesSent: LongAccumulator = _
  /** Cursor-store commits (one per micro-batch with resolved rows). */
  @volatile var cursorsCommitted: LongAccumulator = _
  /** Change rows routed to the dead-letter queue (unparseable payload). */
  @volatile var messagesDeadLettered: LongAccumulator = _

  private def resumeFrom(frame: DataFrame, ignoreCursor: Boolean): DataFrame =
    (if (ignoreCursor) None else cursorStore.get().map(_.toLong)) match {
      case Some(c) =>
        gcFloorUs.filter(c < _).foreach { floor =>
          throw new InvalidCursorException(
            s"cursor $c must be after replica GC threshold $floor")
        }
        frame.where(col("sort_us") > c)
      case None => frame
    }

  /** Start the pipeline on a streaming changefeed frame
    * (columns: sort_us, tbl, key, value). */
  def start(spark: SparkSession, frame: DataFrame,
      ignoreCursor: Boolean = false): StreamingQuery = {
    messagesSent = spark.sparkContext.longAccumulator("graft.messages_sent")
    cursorsCommitted = spark.sparkContext.longAccumulator("graft.cursors_committed")
    messagesDeadLettered = spark.sparkContext.longAccumulator("graft.messages_dead_lettered")
    val acc = messagesSent
    val curAcc = cursorsCommitted
    val dlqAcc = messagesDeadLettered
    val q = queue
    val router = tableRouter
    val dlq = deadLetterQueue
    val store = cursorStore
    // a change row must carry parseable JSON WITH an `after` key;
    // anything else (truncation, encoding damage) is poison — with a
    // DLQ configured it is PRESERVED there raw instead of crashing or
    // silently vanishing from the relay (the consumer-side NACK path
    // the reference's fire-and-forget publish leaves implicit).
    // Key-PRESENCE, not value: a tombstone `{"after": null}` (the
    // CockroachDB DELETE form) is a legitimate change row and must
    // publish, which a naive `$.after IS NULL` check would dead-letter.
    // The key test is coalesce'd to false because valid non-OBJECT JSON
    // (a bare scalar or array) parses but has no keys: json_object_keys
    // returns NULL, and a NULL `malformed` would fail BOTH the DLQ
    // route and the publish route — the silent drop this predicate
    // exists to prevent.
    val parsed = get_json_object(col("value"), "$")
    val malformed = col("tbl").isNotNull &&
      (parsed.isNull ||
        !coalesce(array_contains(json_object_keys(parsed), "after"), lit(false)))
    val isChange = col("tbl").isNotNull
    val isResolved = col("tbl").isNull && col("key").isNull
    val good = if (dlq.isDefined) isChange && !malformed else isChange
    val resolvedUs = when(isResolved, Changefeed.resolvedUsCol)
    // one row per feed row, at most one of payload / dead / resolved_us
    // non-null: what to publish, what to dead-letter, what to fold into
    // the batch's cursor
    val routed = Seq(
      col("tbl"),
      when(good, Changefeed.payloadCol).as("payload"),
      (if (dlq.isDefined) when(malformed, col("value"))
       else lit(null).cast("string")).as("dead"),
      resolvedUs.as("resolved_us"))
    val maxResolved = new MaxLongAccumulator
    spark.sparkContext.register(maxResolved, "graft.max_resolved_us")
    def commitCursor(us: Option[Long]): Unit = us.foreach { c =>
      store.set(c.toString)
      curAcc.add(1L)
    }
    val writer = resumeFrom(frame, ignoreCursor).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        q match {
          case log: ChangefeedLogQueue =>
            // a DLQ needs per-row publishing the DSv2 write cannot do,
            // so with one configured this path reads the batch twice
            dlq.foreach { dq =>
              batch.where(malformed).select(col("value"))
                .foreachPartition { (it: Iterator[Row]) =>
                  it.foreach { r =>
                    dq.publish(r.getString(0).getBytes(UTF_8))
                    dlqAcc.add(1L)
                  }
                }
            }
            // whole-batch publish through the DSv2 sink: one atomic
            // segment per partition, e<batch>p<part> ids → idempotent
            // across foreachBatch retries (effectively-once). The row
            // count and the max resolved timestamp are observed on the
            // same pass, ahead of the change-row filter.
            val seen = Observation()
            batch.observe(seen, count(when(good, lit(1))).as("rows"),
                max(resolvedUs).as("max_resolved"))
              .where(good)
              .write.format("graft-changefeed")
              .option("path", log.dir).option("epochId", batchId)
              .mode("append").save()
            val m = Await.result(seen.future, ChangefeedPipeline.ObservationTimeout)
            acc.add(m.getAs[Long]("rows"))
            commitCursor(Option(m.getAs[java.lang.Long]("max_resolved")).map(_.longValue))
          case _ =>
            // every row-publish path — single queue, per-table router,
            // DLQ — is ONE foreachPartition: publish or dead-letter each
            // row and fold resolved timestamps into `maxResolved`. The
            // cursor commits after the action returns, i.e. after every
            // publish of the batch: at-least-once into the queue.
            maxResolved.reset()
            batch.select(routed: _*).foreachPartition { (it: Iterator[Row]) =>
              // MULTI-TABLE fan-out (the streaming form of
              // cdc_table_router #156): the reference binds one process
              // per table and names the queue after it (cli.yml,
              // queues.rs:17-30) — a consolidated relay runs ONE stream
              // over a multi-table feed and routes each change row to
              // the queue named after ITS table tag. Queue handles are
              // resolved once per (partition, table), not per record.
              val perTable =
                scala.collection.mutable.HashMap.empty[String, MessageQueue]
              it.foreach { r =>
                if (!r.isNullAt(1)) {
                  val target = router match {
                    case Some(make) =>
                      perTable.getOrElseUpdate(r.getString(0), make(r.getString(0)))
                    case None => q
                  }
                  target.publish(r.getString(1).getBytes(UTF_8))
                  acc.add(1L)
                } else if (!r.isNullAt(2)) {
                  dlq.get.publish(r.getString(2).getBytes(UTF_8))
                  dlqAcc.add(1L)
                } else if (!r.isNullAt(3)) maxResolved.add(r.getLong(3))
                else if (!r.isNullAt(0)) throw new IllegalStateException(
                  s"change row of table ${r.getString(0)} has a null key or value")
              }
            }
            commitCursor(if (maxResolved.isZero) None else Some(maxResolved.value))
        }
        ()
      }
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Reference retry loop (src/main.rs:140-198): an invalid cursor is
    * ignored and the feed restarts without it. */
  def startWithRetry(spark: SparkSession, frame: DataFrame): StreamingQuery =
    try start(spark, frame)
    catch {
      case _: InvalidCursorException => start(spark, frame, ignoreCursor = true)
    }

  /** Start on the custom DSv2 source (`graft-changefeed`) over a
    * changefeed log directory: the CursorStore cursor becomes the
    * source's `startCursor` (offset-level resume — skipped rows are
    * never read, vs. the post-read filter of `resumeFrom`), and the
    * cursor is validated against the log's GC floor BEFORE the stream
    * starts, mirroring the reference's pre-flight cursor handling
    * (src/main.rs:117-140). */
  def startFromLog(spark: SparkSession, logDir: String,
      ignoreCursor: Boolean = false): StreamingQuery = {
    val cursor = if (ignoreCursor) None else cursorStore.get().map(_.toLong)
    val floor = gcFloorUs.orElse(graft.sources.ChangefeedLog.gcFloorUs(logDir))
    for (c <- cursor; f <- floor; if c < f)
      throw new InvalidCursorException(
        s"cursor $c must be after replica GC threshold $f")
    val reader = spark.readStream.format("graft-changefeed").option("path", logDir)
    val frame = cursor.fold(reader)(c => reader.option("startCursor", c)).load()
    // the source already resumed at the offset level → skip resumeFrom
    start(spark, frame, ignoreCursor = true)
  }

  /** "From scratch" means BOTH the stored cursor and the streaming
    * checkpoint: a restart that reused the checkpoint would resume from
    * the same stale offset `planInputPartitions` just rejected and fail
    * identically, forever. */
  def startFromLogIgnoringCursor(spark: SparkSession, logDir: String): StreamingQuery = {
    ChangefeedPipeline.deleteRecursively(java.nio.file.Paths.get(checkpointDir))
    startFromLog(spark, logDir, ignoreCursor = true)
  }

  /** Reference retry loop over the DSv2 source: an invalid cursor is
    * dropped and the feed restarts from whatever the log retains. Only
    * covers the synchronous pre-flight check — an invalid offset
    * resumed from the CHECKPOINT surfaces on the stream-execution
    * thread after start() returns; supervise with
    * [[runFromLogWithRetry]] to cover that path too. */
  def startFromLogWithRetry(spark: SparkSession, logDir: String): StreamingQuery =
    try startFromLog(spark, logDir)
    catch {
      case _: InvalidCursorException =>
        startFromLogIgnoringCursor(spark, logDir)
    }

  /** Supervised (blocking) form of the reference's retry loop
    * (src/main.rs:140-198): run the feed to termination; if it dies
    * because a resume point — stored cursor OR checkpoint-resumed
    * offset — fell below the replica GC threshold, drop cursor AND
    * checkpoint and restart from scratch. Returns the final query once
    * it terminates. */
  def runFromLogWithRetry(spark: SparkSession, logDir: String,
      onStart: StreamingQuery => Unit = _ => ()): StreamingQuery = {
    val first = startFromLogWithRetry(spark, logDir)
    onStart(first)
    try { first.awaitTermination(); first }
    catch {
      case e: Throwable if ChangefeedPipeline.causedByInvalidCursor(e) =>
        val fresh = startFromLogIgnoringCursor(spark, logDir)
        onStart(fresh)
        fresh.awaitTermination()
        fresh
    }
  }
}

object ChangefeedPipeline {

  /** How long the driver waits, after the changefeed-log write returned,
    * for that write's observed row count and max resolved timestamp
    * (they arrive through Spark's listener bus). */
  private val ObservationTimeout = 5.minutes

  /** An async stream failure arrives wrapped (StreamingQueryException →
    * SparkException → ...); walk the cause chain for the real reason. */
  private[cdc] def causedByInvalidCursor(t: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    var cur = t
    while (cur != null && seen.add(cur)) {
      if (cur.isInstanceOf[InvalidCursorException]) return true
      cur = cur.getCause
    }
    false
  }

  private[cdc] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try {
        st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
      } finally st.close()
    }
  }

  /** Publish a batch of payload rows to a FileQueue: one atomic JSONL
    * file per (batch, partition) → idempotent, effectively-once. */
  def publishToFileQueue(payloads: DataFrame, batchId: Long, fq: FileQueue): Unit =
    payloads.foreachPartition { (it: Iterator[Row]) =>
      val w = fq.writerFor(batchId, TaskContext.getPartitionId())
      it.foreach(r => w.write(r.getString(0)))
      w.commit()
      ()
    }
}

/** Largest value added across a job's tasks; zero (nothing added) reads
  * as `isZero`. Folds a micro-batch's resolved timestamps on the same
  * pass that publishes its change rows. */
private[cdc] final class MaxLongAccumulator extends AccumulatorV2[Long, Long] {
  private var m = Long.MinValue
  override def isZero: Boolean = m == Long.MinValue
  override def copy(): MaxLongAccumulator = { val a = new MaxLongAccumulator; a.m = m; a }
  override def reset(): Unit = m = Long.MinValue
  override def add(v: Long): Unit = if (v > m) m = v
  override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
  override def value: Long = m
}
