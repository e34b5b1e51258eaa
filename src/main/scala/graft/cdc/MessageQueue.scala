package graft.cdc

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Message-queue abstraction the pipeline publishes change payloads to —
  * the Spark re-expression of the reference's `MessageQueue` trait
  * (reference src/queues.rs:12-14; RabbitMQ impl src/queues.rs:44-64).
  *
  * Implementations must be Serializable: they're shipped into
  * `foreachPartition` closures and publish from executors — on a real
  * cluster each task opens its own connection (a Kafka/AMQP producer);
  * the impls here are the test/local equivalents.
  */
trait MessageQueue extends Serializable {
  /** Publish one message. */
  def publish(data: Array[Byte]): Unit

  /** Publish a run of messages in order — what the pipeline's tasks call,
    * with runs of at least 256 KiB and the rest at the end of a task.
    * When it returns, every message is published as `publish` would
    * have it; a queue that can hand a run over at once overrides it. */
  def publishAll(data: Seq[Array[Byte]]): Unit = data.foreach(publish)
}

/** In-memory queue registry (the RabbitMQ stand-in for tests/local
  * mode). Messages land in a process-global buffer keyed by queue name
  * — executors in local mode share the JVM, mirroring how the test
  * double in a cluster deployment would be a real broker. */
class InMemoryQueue(val name: String) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit =
    InMemoryQueue.buffer(name).add(new String(data, "UTF-8"))
}

object InMemoryQueue {
  private val buffers = TrieMap.empty[String, ConcurrentLinkedQueue[String]]
  def buffer(name: String): ConcurrentLinkedQueue[String] =
    buffers.getOrElseUpdate(name, new ConcurrentLinkedQueue[String]())
  def messages(name: String): Seq[String] = buffer(name).iterator().asScala.toSeq
  def clear(name: String): Unit = buffer(name).clear()
}

/** Changefeed-log queue: "publishing" appends the batch's change rows
  * to another changefeed log THROUGH the `graft-changefeed` DSv2 sink
  * (one atomic segment per partition, idempotent `e<batch>p<part>`
  * ids) — the broker-free Spark-native queue. Row-level publish is
  * deliberately unsupported: the pipeline dispatches on this type and
  * writes whole micro-batches (ChangefeedPipeline.start). */
class ChangefeedLogQueue(val dir: String) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit =
    throw new UnsupportedOperationException(
      "ChangefeedLogQueue publishes whole micro-batches via the DSv2 sink")
}
