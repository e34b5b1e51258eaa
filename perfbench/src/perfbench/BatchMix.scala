package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Passes over a fixed list of hash-checked `SparkEntry.queries`, with
  * every session memo invalidated and the cache cleared before each
  * pass, so the one memo the mix builds (the MinHash signature table of
  * `dedup_minhash_lsh`) is built inside every pass. Each query's result
  * is collected on the driver; the last pass's results are written out
  * for the DuckDB oracle check that runs after the JVM exits. */
final class BatchMix(seed: Long, slots: Int) extends Workload {
  val sf = 0.003
  /** Short CDC queries measure planning and job count; the TPC-H joins
    * and the training-data query measure execution, shuffle and a memo
    * build. The all-pairs similarity queries are left out: one of them
    * alone would outlast a pass. */
  val mix: Seq[String] = Seq(
    "cdc_classify", "cdc_resolved_cursor", "cdc_apply",
    "q1_agg", "q3_join_topk",
    "dedup_minhash_lsh")

  private var spark: SparkSession = _
  private var dir: Path = _
  private var passNo = 0
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private var lastResults = Map.empty[String, (StructType, Array[Row])]
  private var measuredPasses = Set.empty[Int]
  private var gcMs = 0.0
  /** (op, start µs, end µs, plan phases as name -> (start ms, end ms)) per measured query. */
  private val querySpans = mutable.ArrayBuffer.empty[(String, Long, Long, Map[String, (Long, Long)])]

  def tablesDir: Path = dir.resolve("tables")

  override def setup(s: SparkSession, d: Path, traced: Boolean): Unit = {
    spark = s
    dir = d
    val missing = mix.filterNot(q => SparkEntry.queries.contains(q) && SparkEntry.oracleSql.contains(q))
    require(missing.isEmpty, s"mix queries without a query or an oracle: $missing")
    // the tables are the benchmark's input, generated once per run: the
    // first set-up writes them, later set-ups of the same run reuse them
    val done = tablesDir.resolve("_seed")
    if (!Files.exists(done) || new String(Files.readAllBytes(done), "UTF-8") != seed.toString) {
      Files2.fresh(d)
      BatchData.write(spark, tablesDir.toString, sf, seed)
      Files.write(done, seed.toString.getBytes("UTF-8"))
    }
  }

  private def invalidateMemos(): Unit = {
    Dedup.invalidateCandidates(spark)
    Dedup.invalidateShingles(spark)
    Dedup.invalidateClusterLabels(spark)
    Dedup.invalidateMinhashSignatures(spark)
    Similarity.invalidateMemos(spark)
    Similarity.invalidateBaseMemos(spark)
    TextAnalysis.invalidateBpe(spark)
    spark.catalog.clearCache()
  }

  /** One pass; returns its wall seconds. */
  private def pass(record: Boolean): Double = {
    passNo += 1
    invalidateMemos()
    val t0 = System.nanoTime()
    val results = mix.map { name =>
      val op = s"pass$passNo:$name"
      spark.sparkContext.setLocalProperty("perfbench.op", op)
      val q0 = System.nanoTime()
      val s0 = Clock.nowUs
      val df = SparkEntry.queries(name)(spark, tablesDir.toString)
      val rows = df.collect()
      val ms = (System.nanoTime() - q0) / 1e6
      if (record) {
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        querySpans += ((op, s0, Clock.nowUs, df.queryExecution.tracker.phases
          .map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }))
      }
      name -> (df.schema, rows)
    }
    spark.sparkContext.setLocalProperty("perfbench.op", null)
    val s = (System.nanoTime() - t0) / 1e9
    if (record) { passMs += s * 1000; measuredPasses += passNo }
    lastResults = results.toMap
    s
  }

  override def warmStep(): Double = pass(record = false)

  override def measure(seconds: Double): Measured = {
    val gc0 = Main.gcMs
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < seconds) pass(record = true)
    gcMs = (Main.gcMs - gc0).toDouble
    // the memos are soft references, which a full GC may or may not
    // clear; drop them so the heap figure does not depend on that
    invalidateMemos()
    val n = passMs.size * mix.size
    val (p50, p90) = Stats.normalisedPercentiles(times.values.map(_.toSeq).toSeq)
    Measured(n, 0, n / (passMs.sum / 1000), p50, p90,
      Map("passes" -> passMs.size.toDouble) ++
        times.map { case (q, t) => s"query_ms.$q" -> Stats.median(t.toSeq) })
  }

  /** Writes the last pass's results and the oracle SQL for the DuckDB
    * check; the check itself runs in `oracle.py`. */
  override def checks(): Seq[Check] = {
    val res = Files2.fresh(dir.resolve("results"))
    lastResults.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(res.resolve(name).toString)
    }
    val sql = mix.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    Files.write(res.resolve("oracle_sql.json"), Json.obj(sql).getBytes("UTF-8"))
    Seq(Check("batch.results_written", lastResults.size == mix.size,
      s"${lastResults.size} of ${mix.size} results"))
  }

  override def layerMetrics(t: Tracer): Map[String, Double] = {
    val passes = measuredPasses.size.toDouble
    val jobs = t.jobs.values.asScala.filter { j =>
      j.op.startsWith("pass") && measuredPasses(j.op.drop(4).takeWhile(_ != ':').toInt)
    }.toSeq
    val plan = t.executions.asScala.toSeq.map(_.filter(_._1 != "execution").values.sum.toDouble)
    val mb = 1048576.0
    // query -> {plan phases, jobs}
    val jobsByOp = jobs.groupBy(_.op)
    querySpans.foreach { case (op, s, e, phases) =>
      val q = t.add(0, op, op.dropWhile(_ != ':').drop(1), "operators", s, e)
      phases.foreach { case (name, (ps, pe)) =>
        t.add(q, op, name, "operators", ps * 1000L, pe * 1000L)
      }
      jobsByOp.getOrElse(op, Nil).foreach(j => t.add(q, op, s"job ${j.jobId}", "operators",
        j.startUs, math.max(j.startUs, j.endUs), Map("stages" -> j.stages.toDouble,
          "tasks" -> j.tasks.toDouble, "task_run_ms" -> j.runMs.toDouble,
          "records_read" -> j.recordsRead.toDouble)))
    }
    Map(
      "batch.plan_ms" -> plan.sum / passes,
      "batch.jobs" -> jobs.size / passes,
      "batch.stages" -> jobs.map(_.stages).sum / passes,
      "batch.tasks" -> jobs.map(_.tasks).sum / passes,
      "batch.task_run_ms" -> jobs.map(_.runMs).sum / passes,
      "batch.slot_busy_share" -> jobs.map(_.runMs).sum / (passMs.sum * slots),
      "batch.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / mb / passes,
      "batch.input_mb" -> jobs.map(_.inputBytes).sum / mb / passes,
      "batch.spill_mb" -> jobs.map(_.spillBytes).sum / mb / passes,
      "batch.gc_ms" -> gcMs / passes) ++ memoBuilds()
  }

  /** The memo the mix builds, timed through its public builder right
    * after its invalidation: `Dedup.minhashLsh` builds the signature
    * table eagerly and returns the LSH query unexecuted. Median of three. */
  private def memoBuilds(): Map[String, Double] = {
    val ms = (1 to 3).map { _ =>
      Dedup.invalidateMinhashSignatures(spark)
      val t0 = System.nanoTime()
      Dedup.minhashLsh(spark, tablesDir.toString)
      (System.nanoTime() - t0) / 1e6
    }
    Dedup.invalidateMinhashSignatures(spark)
    Map("batch.memo_build_ms.minhash_signatures" -> Stats.median(ms))
  }

  override def teardown(): Unit = ()
}
