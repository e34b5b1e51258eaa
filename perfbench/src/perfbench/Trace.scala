package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cdc.{CursorStore, MessageQueue}

/** One traced interval. Times are epoch microseconds. `op` groups the
  * spans of one operation (a micro-batch or one query execution). */
final case class Span(id: Long, parent: Long, op: String, name: String,
    layer: String, startUs: Long, endUs: Long, attrs: Map[String, Double]) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Task-level counters summed per job. */
final class JobStats(val jobId: Int, val op: String, val startUs: Long) {
  @volatile var endUs: Long = 0L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var recordsRead = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Records spans at the layer boundaries the benchmark can see from
  * outside graft: Spark jobs, stages and tasks (a SparkListener),
  * query plan phases (a QueryExecutionListener), micro-batch phases
  * (streaming query progress) and the two timing wrappers below.
  * Everything stays in memory until the run ends. */
final class Tracer {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  /** Plan phase durations (ms) of every finished query execution. */
  val executions = new ConcurrentLinkedQueue[Map[String, Long]]()

  def nextId(): Long = ids.getAndIncrement()

  def add(parent: Long, op: String, name: String, layer: String,
      startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty): Long = {
    val id = nextId()
    spans.add(Span(id, parent, op, name, layer, startUs, endUs, attrs))
    id
  }

  /** The operation a job belongs to: a micro-batch of a streaming
    * query, or the `perfbench.op` local property the batch workload
    * sets around each query. */
  private def opOf(props: java.util.Properties): String =
    if (props == null) "none"
    else Option(props.getProperty("perfbench.op")).getOrElse {
      val q = props.getProperty("sql.streaming.queryId")
      val b = props.getProperty("streaming.sql.batchId")
      if (q != null && b != null) s"$q:$b" else "none"
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val js = new JobStats(e.jobId, opOf(e.properties), e.time * 1000L)
      jobs.put(e.jobId, js)
      e.stageIds.foreach(s => stageJob.put(s, js))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { js =>
        js.synchronized { js.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { js =>
        val m = e.taskMetrics
        js.synchronized {
          js.tasks += 1
          if (m != null) {
            js.runMs += m.executorRunTime
            js.recordsRead += m.inputMetrics.recordsRead
            js.inputBytes += m.inputMetrics.bytesRead
            js.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.GraftListenerShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def jobsOf(op: String): Seq[JobStats] = jobs.values.asScala.filter(_.op == op).toSeq

  /** Turn the micro-batch progress of the given batches into spans:
    * batch -> {latestOffset, walCommit, queryPlanning, addBatch ->
    * {jobs}, commitOffsets}, laid out in the order the micro-batch
    * engine runs its phases (progress reports durations, not starts). */
  def batchSpans(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
      layerOfBatch: String, layerOfJobs: String,
      extra: (Long, String, Long, Long) => Unit = (_, _, _, _) => ()): Unit = {
    val op = s"${p.id}:${p.batchId}"
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val total = d.getOrElse("triggerExecution", 0L) * 1000L
    val root = add(0, op, "micro_batch", layerOfBatch, start, start + total,
      Map("rows" -> p.numInputRows.toDouble))
    var t = start
    def phase(name: String, layer: String): (Long, Long) = {
      val len = d.getOrElse(name, 0L) * 1000L
      val s = t
      t += len
      add(root, op, name, layer, s, s + len)
      (s, s + len)
    }
    phase("latestOffset", "sources")
    phase("walCommit", layerOfBatch)
    phase("getBatch", "sources")
    phase("queryPlanning", layerOfBatch)
    val (abS, abE) = {
      val len = d.getOrElse("addBatch", 0L) * 1000L
      (t, t + len)
    }
    t = abE
    val addBatch = add(root, op, "addBatch", layerOfBatch, abS, abE)
    jobsOf(op).foreach { j =>
      add(addBatch, op, s"job ${j.jobId}", layerOfJobs, j.startUs,
        math.max(j.startUs, j.endUs),
        Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "task_run_ms" -> j.runMs.toDouble,
          "records_read" -> j.recordsRead.toDouble))
    }
    extra(addBatch, op, abS, abE)
    phase("commitOffsets", layerOfBatch)
  }

  /** Self time per layer: each span's duration minus the part of it
    * its child spans cover (children clipped to the parent). */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      cs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.layer -> (s.durUs - covered) / 1000.0
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startUs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> Json.str(s.op), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_us" -> s.startUs.toString,
        "end_us" -> s.endUs.toString,
        "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) })))
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

/** Process-wide publish timers: the wrapped queue is serialized into
  * Spark tasks, which in local mode run in this JVM. */
object PublishTimer {
  val nanos = new AtomicLong()
  val count = new AtomicLong()
  def reset(): Unit = { nanos.set(0); count.set(0) }
}

/** Timing wrapper around a [[MessageQueue]]. */
final class TimedQueue(inner: MessageQueue) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit = {
    val t0 = System.nanoTime()
    try inner.publish(data)
    finally {
      PublishTimer.nanos.addAndGet(System.nanoTime() - t0)
      PublishTimer.count.incrementAndGet()
      ()
    }
  }
}

/** Timing wrapper around a [[CursorStore]]: each `set` becomes a span
  * (cursor commits run on the driver, inside the batch's addBatch). */
final class TimedCursorStore(inner: CursorStore) extends CursorStore {
  val commits = new ConcurrentLinkedQueue[(Long, Long)]()
  override def get(): Option[String] = inner.get()
  override def set(cursor: String): Unit = {
    val s = Clock.nowUs
    try inner.set(cursor) finally { commits.add((s, Clock.nowUs)); () }
  }
}
