package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming._

/** The three stateful operators, each fed fixed-size batches from its
  * own MemoryStream by its own driver thread, side by side: run one
  * after another, each batch's mostly fixed cost (state store load and
  * changelog sync) left the CPUs idle and made the figures swing with
  * the host's CPU steal. A batch's time runs from `addData` to the end
  * of `processAllAvailable`, and each operator's output is collected on
  * the driver for the checks. */
final class StreamOps(seed: Long, slots: Int) extends Workload {
  val rowsPerBatch = 5000
  val cdcKeys = 2000
  val topkGroups = 8

  /** One operator under test: its input stream, query and outputs.
    * `batchesPerStep` counts the micro-batches one input batch causes:
    * an event-time operator runs a no-data batch after each data batch
    * to advance its watermark, and a step waits for that one too, so it
    * neither goes unmeasured nor overlaps the operator's next batch. */
  final class Op[I, O](val name: String, in: MemoryStream[I], val query: StreamingQuery,
      val out: ConcurrentLinkedQueue[(Long, Array[O])], gen: () => Seq[I],
      batchesPerStep: Int) {
    val fed = mutable.ArrayBuffer.empty[Seq[I]]
    val times = mutable.ArrayBuffer.empty[Double]
    /** Micro-batches run so far (idle progress events have no addBatch). */
    private def executed: Int = query.recentProgress.count(_.durationMs.containsKey("addBatch"))
    def step(record: Boolean): Double = {
      val g0 = Cpu.threadNs
      val rows = gen()
      genCpuNs.addAndGet(Cpu.threadNs - g0)
      fed += rows
      val before = executed
      val t0 = System.nanoTime()
      in.addData(rows)
      query.processAllAvailable()
      val deadline = System.nanoTime() + 60000000000L
      while (executed < before + batchesPerStep) {
        require(System.nanoTime() < deadline && query.isActive, s"$name: follow-up batch missing")
        Thread.sleep(2)
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (record) times += s
      s
    }
    def outputs: Seq[O] = out.asScala.toSeq.sortBy(_._1).flatMap(_._2.toSeq)
    def lastOutput: Seq[O] = out.asScala.toSeq.sortBy(_._1).lastOption.toSeq.flatMap(_._2.toSeq)
  }

  private var spark: SparkSession = _
  private var cdc: Op[ChangeRow, Materialized] = _
  private var dup: Op[NearDupBand, IngestAdmit] = _
  private var topk: Op[ItemEvent, TopItem] = _
  private var window = (0L, 0L)
  private val genCpuNs = new java.util.concurrent.atomic.AtomicLong()
  override def ownCpuNs: Long = genCpuNs.get
  // one generator per operator: the operators run side by side
  private val (rCdc, rDup, rTopk) = {
    val base = new java.util.SplittableRandom(seed)
    (base.split(), base.split(), base.split())
  }

  // --- generators ---
  private var cdcUs = 1000000L
  private def cdcBatch(): Seq[ChangeRow] = (1 to rowsPerBatch).map { _ =>
    val r = rCdc
    cdcUs += 1 + r.nextInt(3)
    // 5% arrive late, older than versions already applied
    val us = if (r.nextInt(20) == 0) cdcUs - 1 - r.nextInt(5000) else cdcUs
    val v = if (r.nextInt(20) == 0) """{"after": null}"""
      else s"""{"after": {"id": $us, "v": ${r.nextInt(1000)}}}"""
    ChangeRow(s"k${r.nextInt(cdcKeys)}", us, v)
  }

  private val docBands = mutable.ArrayBuffer.empty[Array[Long]]
  private def dupBatch(): Seq[NearDupBand] = (1 to rowsPerBatch / 4).flatMap { _ =>
    val r = rDup
    val id = docBands.size.toLong
    // a quarter of docs are near-duplicates of a recent doc: they copy
    // one to four of its four bands
    val bands =
      if (id > 0 && r.nextInt(4) == 0) {
        val src = docBands((id - 1 - r.nextInt(math.min(id, 3000L).toInt)).toInt)
        val keep = 1 + r.nextInt(4)
        Array.tabulate(4)(b => if (b < keep) src(b) else r.nextLong(1L << 40))
      } else Array.fill(4)(r.nextLong(1L << 40))
    docBands += bands
    val ts = new Timestamp(1700000000000L + id)
    bands.toSeq.map(b => NearDupBand(b, id, ts, "web", "en", 40L, 4))
  }

  private def topkBatch(): Seq[ItemEvent] = (1 to rowsPerBatch).map { _ =>
    val r = rTopk
    val item = if (r.nextInt(10) < 6) r.nextInt(20).toLong else r.nextInt(5000).toLong
    ItemEvent(s"g${r.nextInt(topkGroups)}", item)
  }

  private var streamIds = 0
  private def start[I: Encoder, O](name: String, dir: Path, mode: String, gen: () => Seq[I],
      batchesPerStep: Int, pipe: Dataset[I] => Dataset[O]): Op[I, O] = {
    streamIds += 1
    val in = MemoryStream[I](streamIds, spark, None)(implicitly[Encoder[I]])
    val out = new ConcurrentLinkedQueue[(Long, Array[O])]()
    val q = pipe(in.toDS()).writeStream.outputMode(mode)
      .option("checkpointLocation", dir.resolve(s"ckpt-$name").toString)
      .foreachBatch((b: Dataset[O], id: Long) => { out.add((id, b.collect())); () })
      .start()
    new Op(name, in, q, out, gen, batchesPerStep)
  }

  override def setup(s: SparkSession, d: Path, traced: Boolean): Unit = {
    spark = s
    implicit val ss: SparkSession = s
    import s.implicits._
    val dir = Files2.fresh(d)
    cdc = start[ChangeRow, Materialized]("cdc_apply", dir, "update", () => cdcBatch(), 1,
      ds => CdcApply.updates(ds))
    dup = start[NearDupBand, IngestAdmit]("neardup", dir, "append", () => dupBatch(), 2,
      ds => StreamNearDup.admissions(ds.withWatermark("ts", "10 seconds")))
    topk = start[ItemEvent, TopItem]("topk", dir, "update", () => topkBatch(), 1,
      ds => StreamTopK.topk(ds))
    ops.foreach(o => Relay.awaitReady(o.query))
  }

  private def ops: Seq[Op[_, _]] = Seq(cdc, dup, topk)

  /** Runs `body` for every operator at once, one driver thread each,
    * and rethrows the first failure. */
  private def sideBySide(body: Op[_, _] => Unit): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = ops.map { o =>
      val t = new Thread(() => try body(o) catch { case e: Throwable => failures.add(e); () },
        s"perfbench-${o.name}")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  /** One batch through every operator, side by side; returns its wall seconds. */
  override def warmStep(): Double = {
    val t0 = System.nanoTime()
    sideBySide(_.step(record = false))
    (System.nanoTime() - t0) / 1e9
  }

  /** Whole rounds until the time is up: in a round every operator runs
    * one batch, beside the others, so every run holds the same mix. */
  override def measure(seconds: Double): Measured = {
    val from = Clock.nowUs
    val start = System.nanoTime()
    var rounds = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      sideBySide(_.step(record = true))
      rounds += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    window = (from, Clock.nowUs)
    val rows = rounds.toLong * ops.size * rowsPerBatch
    val ms = ops.map(_.times.map(_ * 1000).toSeq)
    // batch-time percentiles pooled over all operators' batches
    val rate = rows / wallS
    val (p50, p90) = Stats.normalisedPercentiles(ms)
    Measured(rows, 0, rate, p50, p90,
      ops.zip(ms).flatMap { case (o, t) =>
        Seq(s"batch_ms.${o.name}" -> Stats.median(t), s"batches.${o.name}" -> t.size.toDouble)
      }.toMap + ("rounds" -> rounds.toDouble))
  }

  override def checks(): Seq[Check] = Seq(
    StreamChecks.cdcApply(cdc.fed.flatten.toSeq, cdc.outputs),
    StreamChecks.topk(topk.fed.flatten.toSeq, topk.lastOutput),
    StreamChecks.nearDup(dup.fed.map(_.toSeq).toSeq, dup.outputs))

  private def progressIn(op: Op[_, _]): Seq[StreamingQueryProgress] =
    op.query.recentProgress.toSeq.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      p.numInputRows > 0 && t >= window._1 && t <= window._2
    }

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val progress = ops.flatMap(progressIn)
    // commitTimeMs sums the state store commits of all partitions; the
    // span shows the mean per partition at the end of addBatch
    progress.foreach { p =>
      val commit = p.stateOperators.map(_.commitTimeMs).sum
      t.batchSpans(p, "streaming", "streaming", (parent, op, _, e) => {
        t.add(parent, op, "state_commit", "streaming", e - commit * 1000L / slots, e,
          Map("commit_ms_all_partitions" -> commit.toDouble)); ()
      })
    }
    val last = ops.map(_.query.lastProgress)
    ops.map(o => s"streaming.${o.name}.rows_per_s" -> o.times.size * rowsPerBatch / o.times.sum)
      .toMap ++ Map(
      "streaming.batch_ms" -> Stats.mean(progress.map(Relay.dur(_, "triggerExecution"))),
      "streaming.state_commit_ms" -> Stats.mean(progress.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state_mb" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / 1048576.0,
      "streaming.checkpoint_ms" -> Stats.mean(progress.map(p =>
        Relay.dur(p, "walCommit") + Relay.dur(p, "commitOffsets"))))
  }

  override def teardown(): Unit = Seq(cdc, dup, topk).filter(_ != null).foreach(_.query.stop())
}

/** Checks for the stream operators, each computed in plain Scala from
  * the generated input, never from the operator's own code. */
object StreamChecks {
  /** CdcApply's final view equals a latest-wins fold: per key the
    * version with the largest (sort_us, value); a key whose winner is a
    * `{"after": null}` tombstone is deleted. */
  def cdcApply(input: Seq[ChangeRow], emitted: Seq[Materialized]): Check = {
    val ord = Ordering.Tuple2[Long, String]
    val want = input.groupBy(_.key).map { case (k, rs) =>
      k -> rs.maxBy(r => (r.sort_us, r.value))(ord)
    }
    val view = mutable.HashMap.empty[String, Materialized]
    emitted.foreach(m => view(m.key) = m)
    val bad = want.filter { case (k, w) =>
      val tomb = w.value == """{"after": null}"""
      view.get(k) match {
        case Some(m) if tomb => m.op != "delete"
        case Some(m) => !(m.op == "upsert" && m.sort_us == w.sort_us && m.value == w.value)
        case None => true
      }
    }
    val extra = view.keySet -- want.keySet
    Check("stream.cdc_apply_view", bad.isEmpty && extra.isEmpty,
      s"${bad.size} keys differ from the latest-wins fold (e.g. ${bad.headOption}), " +
        s"${extra.size} keys never in the input")
  }

  /** StreamTopK's estimates after the last batch lie within
    * SpaceSaving's certified bounds of the exact counts:
    * count - err <= exact count <= count, for every group. */
  def topk(input: Seq[ItemEvent], lastBatch: Seq[TopItem]): Check = {
    val exact = input.groupBy(e => (e.group, e.item)).map { case (k, v) => k -> v.size.toLong }
    val bad = lastBatch.filter { t =>
      val n = exact.getOrElse((t.group, t.item), 0L)
      !(t.count - t.err <= n && n <= t.count)
    }
    val missing = input.map(_.group).toSet -- lastBatch.map(_.group)
    Check("stream.topk_bounds", bad.isEmpty && missing.isEmpty,
      s"${bad.size} estimates outside [count - err, count] (e.g. ${bad.headOption}), " +
        s"groups without an estimate: $missing")
  }

  /** StreamNearDup's admissions equal a plain run of its band rule:
    * batch by batch, a band not yet registered is claimed by the
    * smallest doc_id carrying it; a doc's band is a hit unless the doc
    * owns it; a doc is admitted iff it has no hit. */
  def nearDup(batches: Seq[Seq[NearDupBand]], emitted: Seq[IngestAdmit]): Check = {
    val owner = mutable.HashMap.empty[Long, Long]
    val want = mutable.HashMap.empty[Long, (Boolean, Int)]
    batches.foreach { rows =>
      rows.groupBy(_.band).foreach { case (band, obs) =>
        owner.getOrElseUpdate(band, obs.map(_.doc_id).min)
      }
      rows.groupBy(_.doc_id).foreach { case (doc, obs) =>
        val hits = obs.count(o => owner(o.band) != doc)
        want(doc) = (hits == 0, hits)
      }
    }
    val got = emitted.groupBy(_.doc_id)
    val dups = got.count(_._2.size > 1)
    val bad = want.filter { case (doc, (adm, hits)) =>
      !got.get(doc).exists(es => es.head.admitted == adm && es.head.hit_bands == hits)
    }
    Check("stream.neardup_admissions", bad.isEmpty && dups == 0 && got.size == want.size,
      s"${bad.size} docs differ from the band rule (e.g. ${bad.headOption}), " +
        s"$dups emitted twice, ${got.size} emitted of ${want.size}")
  }
}
