package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.cdc.{AmqpQueue, ChangefeedLogQueue, ChangefeedPipeline, CursorStore,
  FileCursorStore, MessageQueue}
import graft.sources.ChangefeedLog

/** The share of change rows of each kind in the relay's traffic; the
  * rest are small JSON objects of 40-100 bytes. The defaults are
  * assumptions, not measurements of a real feed (see README.md), and
  * `run.py --mix large=0.01,tombstone=0.1` varies them. */
final case class RelayMix(large: Double = 0.002, tombstone: Double = 0.04, escaped: Double = 0.10) {
  require(Seq(large, tombstone, escaped).forall(_ >= 0) && large + tombstone + escaped <= 1,
    s"bad relay mix $this")
}

object RelayMix {
  /** The AMQP frame-max the benchmark's broker offers: RabbitMQ's
    * default, which the reference's own test broker offers too. */
  val FrameMax = 131072
  /** Large bodies are 1-1.5 times the frame-max, so each travels as
    * two body frames. */
  val LargeMin = FrameMax + 1024

  def parse(s: String): RelayMix = s.split(",").map(_.trim).filter(_.nonEmpty)
    .foldLeft(RelayMix()) { (m, kv) =>
      kv.split("=") match {
        case Array("large", v) => m.copy(large = v.toDouble)
        case Array("tombstone", v) => m.copy(tombstone = v.toDouble)
        case Array("escaped", v) => m.copy(escaped = v.toDouble)
        case _ => throw new IllegalArgumentException(s"bad --mix entry '$kv'")
      }
    }
}

/** Seeded changefeed generator. Each segment holds `changeRows` change
  * rows over three tables with a resolved row after every
  * `resolvedEvery` of them and one at its end, so a segment's last
  * record is always a resolved timestamp. Each change row's value is,
  * with the shares of `mix`: a `{"after": null}` tombstone; a body of
  * 129-193 KiB, above the broker's frame-max; a JSON string with raw
  * tabs, newlines and backslashes; or a small JSON object. `sort_us`
  * rises by 1-3 per record. A resolved row's value is
  * `{"resolved":"<its own sort_us>.0000000000"}`. */
final class RelayGen(seed: Long, mix: RelayMix = RelayMix()) {
  import Tsv.Rec
  private val r = new java.util.SplittableRandom(seed)
  private var us = 1700000000000000L
  private var ids = 0L
  private val Tables = Array("orders", "users", "payments")
  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  private def text(n: Int): String = {
    val b = new java.lang.StringBuilder(n)
    (0 until n).foreach(_ => b.append(Alnum.charAt(r.nextInt(Alnum.length))))
    b.toString
  }

  private def value(id: Long): String = {
    val p = r.nextDouble()
    if (p < mix.tombstone) """{"after": null}"""
    else if (p < mix.tombstone + mix.large)
      s"""{"after": {"id": $id, "blob": "${text(RelayMix.LargeMin + r.nextInt(RelayMix.FrameMax / 2))}"}}"""
    else if (p < mix.tombstone + mix.large + mix.escaped)
      s"""{"after": {"id": $id, "note": "tab\there\nline two \\ back\\slash ${text(8)}"}}"""
    else s"""{"after": {"id": $id, "v": ${r.nextInt(1000000)}, "name": "${text(8 + r.nextInt(32))}"}}"""
  }

  def segment(changeRows: Int, resolvedEvery: Int): Seq[Rec] = {
    val out = mutable.ArrayBuffer.empty[Rec]
    def resolved(): Unit = {
      us += 1 + r.nextInt(3)
      out += Rec(us, null, null, s"""{"resolved":"$us.0000000000"}""")
    }
    (1 to changeRows).foreach { i =>
      us += 1 + r.nextInt(3)
      ids += 1
      out += Rec(us, Tables(r.nextInt(3)), s"k${r.nextInt(50000)}", value(ids))
      if (i % resolvedEvery == 0 && i != changeRows) resolved()
    }
    resolved()
    out.toSeq
  }
}

/** Sort keys of every record landed in the log, in landing order
  * (rising), and which of them are change rows. */
final class Landed {
  private val us = new LongBuffer
  private val change = new java.util.BitSet
  private var n = 0
  def add(r: Tsv.Rec): Unit = synchronized {
    us.add(r.sortUs)
    if (!r.isResolved) change.set(n)
    n += 1
  }
  /** Records with sort_us in (range._1, range._2]. */
  def count(range: (Long, Long), changesOnly: Boolean): Long = synchronized {
    val a = us.snapshot()
    def idx(v: Long) = java.util.Arrays.binarySearch(a, v) match {
      case k if k >= 0 => k + 1
      case k => -k - 1
    }
    val (lo, hi) = (idx(range._1), idx(range._2))
    if (changesOnly) change.get(lo, hi).cardinality.toLong else (hi - lo).toLong
  }
}

object Relay {
  /** The body the relay must publish for a change row: the reference's
    * envelope, built here from the generated record. */
  def body(r: Tsv.Rec): String =
    s"""{"table":"${r.tbl}","key":"${r.key}","value":${r.value}}"""

  def readCursor(p: Path): Option[Long] =
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8).trim.toLong) else None

  /** Checks on what the broker saw, made against the generated input. */
  def brokerChecks(b: LoopbackBroker, cursor: Option[Long], lastResolved: Long): Seq[Check] = Seq(
    Check("relay.every_change_row_arrived", b.outstanding == 0,
      s"${b.outstanding} expected bodies never arrived"),
    Check("relay.bodies_match_envelope", b.wrongBodies.get == 0,
      s"${b.wrongBodies.get} bodies matched no generated row; first: ${b.firstWrong}"),
    Check("relay.no_resolved_row_published", b.resolvedPublished.get == 0,
      s"${b.resolvedPublished.get} resolved rows published"),
    Check("relay.no_duplicates", b.duplicates.get == 0, s"${b.duplicates.get} duplicates"),
    Check("relay.amqp_framing", b.protocolErrors.get == 0,
      s"${b.protocolErrors.get} frames broke the protocol or frame-max"),
    cursorCheck(cursor, lastResolved))

  def cursorCheck(cursor: Option[Long], lastResolved: Long): Check =
    Check("relay.final_cursor", cursor.contains(lastResolved),
      s"cursor $cursor, last resolved sort_us that landed $lastResolved")

  /** Checks on a changefeed log the relay wrote, read with the
    * benchmark's own parser: every generated change row exactly once,
    * no resolved row. */
  def logChecks(expected: Seq[Tsv.Rec], got: Seq[Tsv.Rec]): Seq[Check] = {
    val want = mutable.HashMap.empty[Tsv.Rec, Int]
    expected.foreach(r => want(r) = want.getOrElse(r, 0) + 1)
    var dups = 0L
    var wrong = 0L
    var resolved = 0L
    val seen = mutable.HashSet.empty[Tsv.Rec]
    got.foreach { r =>
      if (r.isResolved) resolved += 1
      else want.get(r) match {
        case Some(n) =>
          if (n == 1) want.remove(r) else want(r) = n - 1
          seen += r
        case None => if (seen(r)) dups += 1 else wrong += 1
      }
    }
    Seq(
      Check("relay.every_change_row_arrived", want.isEmpty,
        s"${want.values.sum} generated change rows missing from the output log"),
      Check("relay.rows_match_input", wrong == 0, s"$wrong output rows match no generated row"),
      Check("relay.no_resolved_row_published", resolved == 0, s"$resolved resolved rows in output"),
      Check("relay.no_duplicates", dups == 0, s"$dups duplicates"))
  }

  /** The relay's micro-batches that started inside [fromUs, toUs] and read rows. */
  def batchesIn(q: StreamingQuery, fromUs: Long, toUs: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      p.numInputRows > 0 && t >= fromUs && t <= toUs
    }

  /** Block until a just-started query has run its first trigger and
    * waits for data: set-up ends when the program can take work. */
  def awaitReady(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!(q.status.message.startsWith("Waiting for data") && !q.status.isTriggerActive)) {
      if (!q.isActive || System.nanoTime() > deadline)
        throw new IllegalStateException(s"query ${q.name} not ready: ${q.status.message}")
      Thread.sleep(2)
    }
  }

  /** The (start, end] sort_us range a micro-batch read. */
  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    def us(json: String) = Option(json).flatMap(raw""""sort_us"\s*:\s*(-?\d+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).getOrElse(Long.MinValue)
    (us(p.sources.head.startOffset), us(p.sources.head.endOffset))
  }

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-layer metrics shared by both relay workloads. */
  def layerMetrics(t: Tracer, batches: Seq[StreamingQueryProgress], slots: Int, landed: Landed,
      inputSegs: Seq[Path], outputRows: Option[Seq[Tsv.Rec]], scratch: Path,
      cursorCommits: Seq[(Long, Long)]): Map[String, Double] = {
    val ops = batches.map(p => s"${p.id}:${p.batchId}").toSet
    val jobs = t.jobs.values.asScala.filter(j => ops(j.op)).toSeq
    // records the source handed the batches, counted from their offsets
    // (progress.numInputRows counts each re-read of the source again)
    val sourceRows = batches.map(p => landed.count(offsets(p), changesOnly = false)).sum.toDouble
    val batchMs = batches.map(dur(_, "triggerExecution"))
    // time the sources layer's own reader over this run's input and,
    // where the relay writes a changefeed log, its writer over the
    // run's output rows
    val readT0 = System.nanoTime()
    val readRows = inputSegs.map(p => ChangefeedLog.readSegment(p).size).sum
    val readUs = (System.nanoTime() - readT0) / 1000.0
    val write = outputRows.map { rows =>
      val writeDir = Files2.fresh(scratch)
      val recs = rows.map(r => ChangefeedLog.Record(r.sortUs, Option(r.tbl), Option(r.key), r.value))
      val writeT0 = System.nanoTime()
      recs.grouped(2000).zipWithIndex.foreach { case (g, i) =>
        ChangefeedLog.writeSegmentAs(writeDir.toString, g, s"w$i")
      }
      val writeUs = (System.nanoTime() - writeT0) / 1000.0
      Files2.deleteTree(writeDir)
      "sources.write_us_per_row" -> writeUs / math.max(1, recs.size)
    }
    val commitMs = cursorCommits.map { case (s, e) => (e - s) / 1000.0 }
    Map(
      "sources.records_read_per_row" -> jobs.map(_.recordsRead).sum / sourceRows,
      "sources.latest_offset_ms" -> Stats.mean(batches.map(dur(_, "latestOffset"))),
      "sources.read_us_per_row" -> readUs / math.max(1, readRows),
      "cdc.jobs_per_batch" -> jobs.size.toDouble / batches.size,
      "cdc.batch_ms" -> Stats.mean(batchMs),
      "cdc.add_batch_ms" -> Stats.mean(batches.map(dur(_, "addBatch"))),
      "cdc.planning_ms" -> Stats.mean(batches.map(dur(_, "queryPlanning"))),
      "cdc.checkpoint_ms" -> Stats.mean(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "cdc.cursor_commit_ms" -> Stats.mean(commitMs),
      "cdc.slot_busy_share" -> jobs.map(_.runMs).sum / (batchMs.sum * slots)) ++ write
  }

  /** Spans for the relay's micro-batches, with the cursor commits that
    * fall inside each addBatch attached below it. */
  def spans(t: Tracer, batches: Seq[StreamingQueryProgress], commits: Seq[(Long, Long)]): Unit =
    batches.foreach { p =>
      t.batchSpans(p, "cdc", "cdc", (parent, op, s, e) => {
        commits.filter { case (a, _) => a >= s && a <= e }.foreach { case (a, b) =>
          t.add(parent, op, "cursor_commit", "cdc", a, b)
        }
        ()
      })
    }
}

/** Catch-up after an outage, over the broker path. Closed loop: a burst
  * of segments lands at once (staged, then renamed into the log in
  * sort_us order) and is drained before the next one lands. */
final class RelayBacklog(seed: Long, slots: Int, mix: RelayMix) extends Workload {
  val segmentsPerBurst: Int = 3 * slots
  val rowsPerSegment = 500
  val resolvedEvery = 100

  private var spark: SparkSession = _
  private var dir: Path = _
  private var gen: RelayGen = _
  private var broker: LoopbackBroker = _
  private var queue: AmqpQueue = _
  private var store: CursorStore = _
  private var timedStore: Option[TimedCursorStore] = None
  private var query: StreamingQuery = _
  private var lastResolved = -1L
  private var nBurst = 0
  private val inputSegs = mutable.ArrayBuffer.empty[Path]
  private val landed = new Landed
  private var measuredSegs = Seq.empty[Path]
  private var window = (0L, 0L)
  private var driver: Thread = _

  private def logDir = dir.resolve("log")
  private def cursorPath = dir.resolve("cursor")

  /** The thread that lands bursts and waits for them does only the
    * benchmark's work; so do the broker's threads. */
  override def ownCpuNs: Long = Cpu.threadNs(driver) + broker.cpuNs

  override def setup(s: SparkSession, d: Path, traced: Boolean): Unit = {
    spark = s
    driver = Thread.currentThread()
    dir = Files2.fresh(d)
    Files.createDirectories(logDir)
    Files.createDirectories(dir.resolve("staging"))
    gen = new RelayGen(seed, mix)
    broker = new LoopbackBroker()
    queue = new AmqpQueue(s"amqp://127.0.0.1:${broker.port}/relay")
    val plain = new FileCursorStore(cursorPath.toString)
    timedStore = if (traced) Some(new TimedCursorStore(plain)) else None
    store = timedStore.getOrElse(plain)
    val q: MessageQueue = if (traced) new TimedQueue(queue) else queue
    val pipe = new ChangefeedPipeline(q, store, dir.resolve("ckpt").toString)
    query = pipe.startFromLog(spark, logDir.toString)
    Relay.awaitReady(query)
  }

  /** Land one burst and wait until it is drained; returns (change rows,
    * drain seconds). */
  private def burst(): (Int, Double) = {
    nBurst += 1
    val staged = (1 to segmentsPerBurst).map { i =>
      val recs = gen.segment(rowsPerSegment, resolvedEvery)
      (Tsv.writeSegment(dir.resolve("staging"), s"b${nBurst}s$i", recs), recs)
    }
    val all = staged.flatMap(_._2)
    all.foreach(landed.add)
    val changes = all.filterNot(_.isResolved)
    broker.expect(changes.map(Relay.body))
    val last = all.last.sortUs
    val t0 = System.nanoTime()
    broker.landedUs = Clock.nowUs
    staged.foreach { case (p, _) =>
      val dst = logDir.resolve(p.getFileName)
      Files.move(p, dst, StandardCopyOption.ATOMIC_MOVE)
      inputSegs += dst
    }
    lastResolved = last
    val deadline = t0 + TimeUnit.SECONDS.toNanos(120)
    while (broker.outstanding > 0 || !Relay.readCursor(cursorPath).contains(last)) {
      if (System.nanoTime() > deadline || !query.isActive)
        throw new IllegalStateException(s"burst $nBurst not drained: " +
          s"${broker.outstanding} bodies outstanding, cursor ${Relay.readCursor(cursorPath)}, " +
          s"want $last; ${Option(query.exception.orNull).map(_.getMessage).getOrElse("")}")
      Thread.sleep(1)
    }
    (changes.size, (System.nanoTime() - t0) / 1e9)
  }

  override def warmStep(): Double = { val (n, s) = burst(); s / n }

  override def measure(seconds: Double): Measured = {
    PublishTimer.reset()
    broker.drainLatencies()
    broker.recording = true
    val start = System.nanoTime()
    val startUs = Clock.nowUs
    val segsBefore = inputSegs.size
    var rows = 0L
    val drains = mutable.ArrayBuffer.empty[Double]
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      val (n, s) = burst()
      rows += n
      drains += s / n
    }
    broker.recording = false
    window = (startUs, Clock.nowUs)
    measuredSegs = inputSegs.drop(segsBefore).toSeq
    val lat = broker.drainLatencies().map(_ / 1000.0)
    Measured(rows, 0, 1 / Stats.median(drains.toSeq), Stats.quantile(lat.toSeq, 0.5),
      Stats.quantile(lat.toSeq, 0.9), Map("bursts" -> drains.size.toDouble))
  }

  override def checks(): Seq[Check] =
    Relay.brokerChecks(broker, Relay.readCursor(cursorPath), lastResolved)

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val batches = Relay.batchesIn(query, window._1, window._2)
    val commits = timedStore.map(_.commits.asScala.toSeq).getOrElse(Nil)
      .filter { case (s, _) => s >= window._1 && s <= window._2 }
    Relay.spans(t, batches, commits)
    val n = PublishTimer.count.get
    Relay.layerMetrics(t, batches, slots, landed, measuredSegs, None, dir.resolve("write-probe"),
      commits) +
      ("cdc.publish_us_per_msg" -> PublishTimer.nanos.get / 1000.0 / math.max(1L, n))
  }

  override def teardown(): Unit = {
    if (query != null) query.stop()
    if (queue != null) queue.close()
    if (broker != null) broker.close()
  }
}

/** The broker-free relay under steady traffic. Open loop: a generator
  * thread lands one small segment every `periodMs` on a fixed schedule,
  * whatever the relay does, and the relay publishes into a
  * [[ChangefeedLogQueue]]. A row's latency runs from its segment's
  * scheduled landing time to the modification time of the output
  * segment that holds it (the sink's atomic rename keeps it). */
final class RelayLive(seed: Long, slots: Int, mix: RelayMix) extends Workload {
  val periodMs = 50L
  val rowsPerSegment = 250
  val resolvedEvery = 50

  private var spark: SparkSession = _
  private var dir: Path = _
  private var query: StreamingQuery = _
  private var store: CursorStore = _
  private var timedStore: Option[TimedCursorStore] = None
  private var gen: Generator = _
  private var window = (0L, 0L)
  private var lastProgressCount = 0
  private var driver: Thread = _

  /** The generator and the thread that waits for the relay to drain do
    * only the benchmark's work. */
  override def ownCpuNs: Long = Cpu.threadNs(driver) + (
    if (gen == null) 0L else if (gen.endedCpuNs >= 0) gen.endedCpuNs else Cpu.threadNs(gen))

  private def logDir = dir.resolve("log")
  private def outDir = dir.resolve("out")
  private def cursorPath = dir.resolve("cursor")

  /** Lands segment i at t0 + i * periodMs; records each segment's
    * scheduled time, sort_us range and records. */
  final class Generator(t0Us: Long) extends Thread("perfbench-live-generator") {
    setDaemon(true)
    private val g = new RelayGen(seed, mix)
    val scheduled = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (schedUs, firstUs, lastUs)
    val records = mutable.ArrayBuffer.empty[Tsv.Rec]
    val landed = new Landed
    val segs = mutable.ArrayBuffer.empty[Path]
    @volatile var stopAtUs: Long = Long.MaxValue
    @volatile var maxLateUs: Long = 0L
    @volatile var failure: Throwable = _
    /** The generator's CPU time once it has stopped, -1 before. */
    @volatile var endedCpuNs: Long = -1L
    override def run(): Unit =
      try {
        var i = 0L
        var sched = t0Us
        while (sched < stopAtUs) {
          val recs = g.segment(rowsPerSegment, resolvedEvery)
          val wait = sched - Clock.nowUs
          if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
          maxLateUs = math.max(maxLateUs, Clock.nowUs - sched)
          val p = Tsv.writeSegment(logDir, s"g$i", recs)
          RelayLive.this.synchronized {
            scheduled += ((sched, recs.head.sortUs, recs.last.sortUs))
            records ++= recs
            recs.foreach(landed.add)
            segs += p
          }
          i += 1
          sched = t0Us + i * periodMs * 1000L
        }
      } catch { case e: Throwable => failure = e }
      finally endedCpuNs = Cpu.threadNs
  }

  override def setup(s: SparkSession, d: Path, traced: Boolean): Unit = {
    spark = s
    driver = Thread.currentThread()
    dir = Files2.fresh(d)
    Files.createDirectories(logDir)
    val plain = new FileCursorStore(cursorPath.toString)
    timedStore = if (traced) Some(new TimedCursorStore(plain)) else None
    store = timedStore.getOrElse(plain)
    val pipe = new ChangefeedPipeline(new ChangefeedLogQueue(outDir.toString), store,
      dir.resolve("ckpt").toString)
    query = pipe.startFromLog(spark, logDir.toString)
    Relay.awaitReady(query)
  }

  /** Half a second of open-loop traffic; returns the median batch time in it. */
  override def warmStep(): Double = {
    if (gen == null) { gen = new Generator(Clock.nowUs + 10000L); gen.start() }
    Thread.sleep(500)
    val all = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    val fresh = all.drop(lastProgressCount)
    lastProgressCount = all.size
    if (fresh.isEmpty) Double.MaxValue else Stats.median(fresh.map(Relay.dur(_, "triggerExecution")))
  }

  override def measure(seconds: Double): Measured = {
    if (gen == null) warmStep()
    val from = Clock.nowUs
    val to = from + (seconds * 1e6).toLong
    gen.stopAtUs = to
    gen.join()
    if (gen.failure != null) throw gen.failure
    window = (from, to)
    val last = gen.records.last.sortUs
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!Relay.readCursor(cursorPath).contains(last)) {
      if (System.nanoTime() > deadline || !query.isActive)
        throw new IllegalStateException(s"live relay did not drain: cursor " +
          s"${Relay.readCursor(cursorPath)}, want $last")
      Thread.sleep(5)
    }
    val sched = gen.scheduled.toArray
    val firsts = sched.map(_._2)
    val lat = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    Tsv.segments(outDir).foreach { p =>
      val mtimeUs = Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS)
      Tsv.read(p).foreach { r =>
        val i = java.util.Arrays.binarySearch(firsts, r.sortUs) match {
          case k if k >= 0 => k
          case k => -k - 2
        }
        if (i >= 0 && sched(i)._1 >= from && sched(i)._1 < to) {
          lat += (mtimeUs - sched(i)._1) / 1000.0
          rows += 1
        }
      }
    }
    val batches = Relay.batchesIn(query, from, to + 60000000L)
    val busyS = batches.map(Relay.dur(_, "triggerExecution")).sum / 1000.0
    val attempted = gen.records.count(r => !r.isResolved && {
      val i = java.util.Arrays.binarySearch(firsts, r.sortUs) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      sched(i)._1 >= from && sched(i)._1 < to
    })
    val delivered = batches.map(p => gen.landed.count(Relay.offsets(p), changesOnly = true)).sum
    Measured(attempted, attempted - rows, delivered / busyS,
      Stats.quantile(lat.toSeq, 0.5), Stats.quantile(lat.toSeq, 0.9),
      Map("generator_max_late_ms" -> gen.maxLateUs / 1000.0, "batches" -> batches.size.toDouble))
  }

  private def output: Seq[Tsv.Rec] = Tsv.segments(outDir).flatMap(Tsv.read)

  override def checks(): Seq[Check] = {
    val expected = gen.records.filterNot(_.isResolved).toSeq
    Relay.logChecks(expected, output) :+
      Relay.cursorCheck(Relay.readCursor(cursorPath), gen.records.last.sortUs)
  }

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val batches = Relay.batchesIn(query, window._1, window._2)
    val commits = timedStore.map(_.commits.asScala.toSeq).getOrElse(Nil)
      .filter { case (s, _) => s >= window._1 && s <= window._2 }
    Relay.spans(t, batches, commits)
    val inSegs = gen.scheduled.zip(gen.segs).collect {
      case ((s, _, _), p) if s >= window._1 && s < window._2 => p
    }.toSeq
    Relay.layerMetrics(t, batches, slots, gen.landed, inSegs, Some(output), dir.resolve("write-probe"),
      commits)
  }

  override def teardown(): Unit = {
    if (gen != null) { gen.stopAtUs = 0L; gen.join() }
    if (query != null) query.stop()
  }
}
