package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: statistics, JSON output and
  * the benchmark's own reader/writer of the changefeed-log TSV format.
  * Nothing here calls into graft, so the checks built on it stay
  * independent of the code under test. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Latency percentiles over several kinds of operation whose times
    * differ by orders of magnitude, with every sample behind each
    * percentile: each time is divided by the geometric mean of its own
    * kind, the 50th and 90th percentiles are taken over all these
    * ratios pooled, and are scaled back by the geometric mean over
    * kinds. Returns (p50, p90) in the input's unit. */
  def normalisedPercentiles(byKind: Seq[Seq[Double]]): (Double, Double) = {
    val g = byKind.map(geomean)
    val ratios = byKind.zip(g).flatMap { case (ts, gk) => ts.map(_ / gk) }
    val scale = geomean(g)
    (scale * median(ratios), scale * quantile(ratios, 0.9))
  }
}

/** CPU time in ns, of the whole JVM and of single threads. The kernel
  * does not charge a thread for time its virtual CPU was stolen by the
  * host, so CPU time leaves out the time a shared host gives to its
  * other tenants, which wall time takes in. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def processNs: Long = os.getProcessCpuTime
  def threadNs: Long = threads.getCurrentThreadCpuTime
  /** A thread's CPU time so far; 0 once it has ended. */
  def threadNs(t: Thread): Long = math.max(0L, threads.getThreadCpuTime(t.getId))
}

/** Samples how fast the host runs this JVM's threads: every `periodMs`
  * it times a fixed integer loop in CPU time. The host's speed moved by
  * up to a fifth over tens of seconds, and CPU time per operation moved
  * with it; `finish` returns the median loop time in ns. */
final class SpeedProbe(periodMs: Long = 50L) extends Thread("perfbench-speed-probe") {
  setDaemon(true)
  @volatile private var running = true
  val samplesNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile var cpuNs = 0L
  private def loop(n: Int): Long = {
    var x = 1L
    var i = 0
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    x
  }
  override def run(): Unit = {
    var sink = 0L
    (1 to 50).foreach(_ => sink += loop(SpeedProbe.Iterations))
    val c0 = Cpu.threadNs
    // at least one sample, however short the timed region
    do {
      val t0 = Cpu.threadNs
      sink += loop(SpeedProbe.Iterations)
      samplesNs.add(Cpu.threadNs - t0)
      Thread.sleep(periodMs)
    } while (running)
    cpuNs = Cpu.threadNs - c0
    if (sink == 42) println("")
  }
  def finish(): Double = {
    running = false
    join()
    Stats.median(samplesNs.asScala.toSeq.map(_.toDouble))
  }
}
object SpeedProbe {
  val Iterations = 1000000
  /** The loop's median CPU time on the 4-core VM the reference figures
    * come from; CPU time per operation is scaled to this speed. */
  val ReferenceNs = 2400000.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** The changefeed log's documented on-disk format, re-implemented here:
  * segment files `seg-<firstUs>-<lastUs>-<id>.log`, one record per
  * line, `sort_us<TAB>tbl<TAB>key<TAB>value`, `\N` for SQL NULL and
  * backslash escapes for backslash, tab, newline and carriage return. */
object Tsv {
  final case class Rec(sortUs: Long, tbl: String, key: String, value: String) {
    def isResolved: Boolean = tbl == null
  }

  private val Null = "\\N"
  private val SegName = raw"seg-(\d+)-(\d+)-([0-9a-zA-Z]+)(?:-t[0-9a-fxn]*)?\.log".r

  def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '\t' => b.append("\\t")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case c => b.append(c)
    }
    b.toString
  }

  def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b.append('\\')
          case 't' => b.append('\t')
          case 'n' => b.append('\n')
          case 'r' => b.append('\r')
          case o => throw new IllegalArgumentException(s"bad escape \\$o")
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def format(r: Rec): String =
    s"${r.sortUs}\t${if (r.tbl == null) Null else esc(r.tbl)}\t" +
      s"${if (r.key == null) Null else esc(r.key)}\t${esc(r.value)}"

  def parse(line: String): Rec = {
    val p = line.split("\t", -1)
    require(p.length == 4, s"malformed log line (${p.length} fields)")
    def opt(s: String) = if (s == Null) null else unesc(s)
    Rec(p(0).toLong, opt(p(1)), opt(p(2)), unesc(p(3)))
  }

  /** Write one segment atomically (temp file, then rename). */
  def writeSegment(dir: Path, id: String, recs: Seq[Rec]): Path = {
    val name = s"seg-${recs.head.sortUs}-${recs.last.sortUs}-$id.log"
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, recs.map(format).mkString("\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def segments(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.iterator.asScala.filter(p => SegName.matches(p.getFileName.toString))
        .toList.sortBy(_.getFileName.toString)
      finally st.close()
    }

  def read(p: Path): Seq[Rec] =
    new String(Files.readAllBytes(p), UTF_8).split("\n", -1).toSeq
      .filter(_.nonEmpty).map(parse)
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally st.close()
    }
  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }
}
