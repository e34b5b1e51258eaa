package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Check(name: String, ok: Boolean, detail: String)

/** One run's measured outcome. `p50Ms`/`p90Ms` are the workload's
  * latency figures (see README.md for what each workload counts). */
final case class Measured(attempted: Long, failed: Long, throughput: Double,
    p50Ms: Double, p90Ms: Double, extra: Map[String, Double] = Map.empty)

/** A workload: set-up builds its inputs and program objects and leaves
  * the program ready for its first operation; `warmStep` runs one
  * warm-up step and returns its cost (lower is warmer); `measure` runs
  * whole rounds for the given time; `checks` verifies the outputs
  * outside the timed region. `ownCpuNs` is the CPU time the benchmark's
  * own work has taken so far (generating input, the broker's checks,
  * polling), which `cpu_ms_per_op` leaves out. */
trait Workload {
  def setup(spark: SparkSession, dir: Path, traced: Boolean): Unit
  def warmStep(): Double
  def measure(seconds: Double): Measured
  def checks(): Seq[Check]
  def layerMetrics(t: Tracer): Map[String, Double]
  def teardown(): Unit
  def ownCpuNs: Long = 0L
}

/** Runs one workload in this JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * --cpus <n> --t0-ms <epoch ms the benchmark process started>`.
  * Writes `result.json` (and with tracing `spans.jsonl`) into `--out`. */
object Main {
  val SetupRounds = 5
  val MaxWarmSeconds = 6.0

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def session(out: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // a commit writes a changelog file instead of uploading a snapshot
      // of every store; snapshot uploads made stream_ops' batch times
      // swing by a fifth between runs
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, seed: Long, cpus: Int, mix: RelayMix): Workload = name match {
    case "relay_backlog" => new RelayBacklog(seed, cpus, mix)
    case "relay_live" => new RelayLive(seed, cpus, mix)
    case "batch_mix" => new BatchMix(seed, cpus)
    case "stream_ops" => new StreamOps(seed, cpus)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Files.createDirectories(Paths.get(a("out")).toAbsolutePath)
    val cpus = a("cpus").toInt
    val t0Us = a("t0-ms").toLong * 1000L
    val mix = RelayMix.parse(a.getOrElse("mix", ""))

    // set up several times and keep the last. The first round runs from
    // the benchmark process's start, so it also pays for the JVM's start,
    // class loading and generating batch_mix's tables; later rounds pay
    // for a fresh SparkContext and the workload's own set-up. setup_s is
    // the median of all rounds, the first is reported as setup_cold_s.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    (1 to SetupRounds).foreach { round =>
      val s0 = if (round == 1) t0Us else Clock.nowUs
      spark = session(out, cpus)
      wl = make(name, seed, cpus, mix)
      wl.setup(spark, out.resolve("work"), traced)
      setupS += (Clock.nowUs - s0) / 1e6
      if (round < SetupRounds) { wl.teardown(); spark.stop() }
    }

    val phases = mutable.LinkedHashMap("setup" -> (Clock.nowUs - t0Us) / 1e6)
    val warm = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    // warm up until a step no longer beats the best before it by 3%
    // (at least three steps, at most MaxWarmSeconds once three are done)
    def improving: Boolean = warm.size < 3 ||
      (warm.last < 0.97 * warm.init.min && (System.nanoTime() - w0) / 1e9 < MaxWarmSeconds)
    while (improving) warm += wl.warmStep()

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(_.install(spark))
    phases("warm") = (Clock.nowUs - t0Us) / 1e6
    val probe = new SpeedProbe()
    probe.start()
    val cpu0 = Cpu.processNs - wl.ownCpuNs
    val m = wl.measure(seconds)
    val probeMedNs = probe.finish()
    // the JVM's CPU time over the timed region (every driver, task, GC
    // and JIT thread) without the benchmark's own, per operation, and
    // scaled to the reference speed of the host
    val cpuMsPerOp = (Cpu.processNs - wl.ownCpuNs - cpu0 - probe.cpuNs) / 1e6 / m.attempted
    val speed = SpeedProbe.ReferenceNs / probeMedNs
    phases("measure") = (Clock.nowUs - t0Us) / 1e6
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val layers = tracer.map { t =>
      t.uninstall(spark)
      val l = wl.layerMetrics(t)
      t.writeSpans(out.resolve("spans.jsonl"))
      l ++ t.selfTimeByLayer().map { case (k, v) => s"self_ms.$k" -> v }
    }.getOrElse(Map.empty)
    val checks = wl.checks()
    phases("checks") = (Clock.nowUs - t0Us) / 1e6
    wl.teardown()
    spark.stop()
    phases("stop") = (Clock.nowUs - t0Us) / 1e6

    val e2e = Map(
      "cpu_ms_per_op" -> cpuMsPerOp * speed,
      "cpu_ms_per_op_unscaled" -> cpuMsPerOp,
      "throughput_per_s" -> m.throughput,
      "latency_p50_ms" -> m.p50Ms,
      "latency_p90_ms" -> m.p90Ms,
      "setup_s" -> Stats.median(setupS.toSeq),
      "heap_mb" -> heapMb)
    def nums(kv: Map[String, Double]) = Json.obj(kv.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(name),
      "correct" -> checks.forall(_.ok).toString,
      "attempted" -> m.attempted.toString,
      "failed" -> m.failed.toString,
      "end_to_end" -> nums(e2e),
      "per_layer" -> nums(layers),
      "extra" -> nums(m.extra ++ Map("warm_steps" -> warm.size.toDouble,
        "setup_cold_s" -> setupS.head, "host_speed" -> speed, "speed_samples" -> probe.samplesNs.size.toDouble) ++
        phases.map { case (k, v) => s"phase_end_s.$k" -> v }),
      "setup_rounds_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "checks" -> checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))).mkString("[", ", ", "]")))
    Files.write(out.resolve("result.json"), json.getBytes("UTF-8"))
  }
}
