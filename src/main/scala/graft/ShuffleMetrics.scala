package graft

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.{GraftListenerShim, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** MEASURED data movement for one query execution (r13 verdict #1:
  * "shuffle-volume is argued, not measured" — every §5 scale claim
  * rested on plan shape and wall time; these are the bytes that
  * actually moved).
  *
  * - `shuffleReadB` / `shuffleWriteB`: total shuffle bytes read
  *   (local + remote — on a real cluster most reads are remote
  *   network traffic; local[32] reads are all local, but the VOLUME
  *   is the same as a 1000-executor run of the same plan at the same
  *   data, which is what makes this number the 100 TB predictor)
  * - `spillB`: memory + disk spill (a partition that didn't fit its
  *   executor's execution memory — the first thing that goes wrong
  *   when partition sizing is misjudged at scale)
  * - `peakExecMemB`: max single-task peak execution memory (the
  *   per-slot memory the same plan would demand of a cluster
  *   executor)
  * - `inputReadB`: bytes read from storage (task inputMetrics) — the
  *   pushdown story in numbers: a projection that should prune
  *   columns, or a filter that should prune partitions/row groups,
  *   shows up here as bytes that were or weren't read.
  * - `codegenCompiles`: Janino compilations of generated classes
  *   (Spark's `CodegenMetrics` compile-time histogram count, JVM-wide)
  *   — a query whose plans miss Spark's codegen cache pays them on
  *   every run, not once. */
case class IoSnapshot(shuffleReadB: Long, shuffleWriteB: Long,
    spillB: Long, peakExecMemB: Long, inputReadB: Long = 0L,
    codegenCompiles: Long = 0L) {
  def -(o: IoSnapshot): IoSnapshot =
    IoSnapshot(shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
      spillB - o.spillB, math.max(peakExecMemB, o.peakExecMemB),
      inputReadB - o.inputReadB, codegenCompiles - o.codegenCompiles)
}

/** SparkListener accumulating task-level I/O metrics. One instance is
  * registered for a whole Bench/ScaleCheck run; per-query numbers are
  * deltas between [[snapshot]] calls (queries run sequentially in
  * both harnesses, so a delta is exactly one query's tasks). LongAdder
  * because TaskEnd events arrive on the listener-bus dispatch threads
  * concurrently with nothing else here — reads only happen after a
  * bus drain. */
class ShuffleMetricsListener extends SparkListener {
  private val read = new LongAdder
  private val write = new LongAdder
  private val spill = new LongAdder
  private val input = new LongAdder
  @volatile private var peak = 0L

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      read.add(m.shuffleReadMetrics.totalBytesRead)
      write.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      if (m.peakExecutionMemory > peak) peak = m.peakExecutionMemory
    }
  }

  /** Drain the async bus, then read the counters. `resetPeak` starts a
    * fresh per-query peak window (the sums are monotone so deltas
    * work; a max is not delta-able and must be reset). */
  def snapshot(sc: SparkContext, resetPeak: Boolean = true): IoSnapshot = {
    GraftListenerShim.drainListenerBus(sc)
    val s = IoSnapshot(read.sum(), write.sum(), spill.sum(), peak, input.sum(),
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    if (resetPeak) peak = 0L
    s
  }
}

object ShuffleMetrics {
  /** Register a listener on the session's context; caller owns removal
    * (harness mains never remove — the session dies with the process). */
  def install(spark: SparkSession): ShuffleMetricsListener = {
    val l = new ShuffleMetricsListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** The sub-linear-shuffle gate (r13 verdict #1): for operators whose
    * design says the shuffle carries BOUNDED data (combinable aggs to
    * a fixed group count, sketches, ledgers, reports), K× input must
    * NOT produce ≥(K/2)× shuffle bytes — a ratio at or above K/2 means
    * the exchange is moving corpus-sized data (e.g. a small side that
    * silently stopped broadcasting) and the op would not survive a
    * 100× scale-up. K/2 rather than ~1: map-side partials grow with
    * input-split count, AQE re-plans, and tiny absolute volumes make
    * small ratios noisy — but a true corpus-sized exchange shows up at
    * ~K×, comfortably above the line. Returns (op, byteRatio) for
    * every gated op at or over the line. */
  def subLinearViolations(x1: Map[String, IoSnapshot],
      xk: Map[String, IoSnapshot], k: Int,
      gated: Set[String]): Seq[(String, Double)] =
    gated.toSeq.sorted.flatMap { name =>
      for {
        a <- x1.get(name)
        b <- xk.get(name)
        bytes1 = math.max(a.shuffleReadB + a.shuffleWriteB, 1L)
        bytesK = b.shuffleReadB + b.shuffleWriteB
        ratio = bytesK.toDouble / bytes1
        if ratio >= k / 2.0
      } yield name -> ratio
    }
}
