package graft.sources

import java.nio.file.Files
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** §2#160: Kafka-style log compaction below a cursor — latest change
  * per key survives, resolved ticks collapse to the max, straddling
  * and newer segments untouched, reruns idempotent. */
class CompactionSpec extends SparkSuite {
  import ChangefeedLog.Record

  private def ch(us: Long, key: String, v: String) =
    Record(us, Some("events"), Some(key), v)
  private def rs(us: Long) =
    Record(us, None, None, s"""{"resolved": "$us"}""")

  private def buildLog(): String = {
    val dir = Files.createTempDirectory("graft-compact").toString
    // seg 1: k1@10, k2@20, resolved@25; seg 2: k1@30 (supersedes), k3@40,
    // resolved@45; seg 3 (ABOVE the cursor): k2@200
    ChangefeedLog.writeSegment(dir, Seq(ch(10, "k1", "v1a"), ch(20, "k2", "v2a"), rs(25)))
    ChangefeedLog.writeSegment(dir, Seq(ch(30, "k1", "v1b"), ch(40, "k3", "v3a"), rs(45)))
    ChangefeedLog.writeSegment(dir, Seq(ch(200, "k2", "v2b")))
    dir
  }

  test("compact keeps latest-per-key + max resolved; newer segments untouched") {
    val dir = buildLog()
    val out = ChangefeedLog.compact(dir, belowUs = 100L)
    assert(out.isDefined)
    val segs = ChangefeedLog.listSegments(dir)
    assert(segs.length === 2, s"expected compacted + new segment, got $segs")
    val compacted = ChangefeedLog.readSegment(segs.head.path).toSeq
    // latest per key below the cursor + ONE resolved (the max)
    assert(compacted.toSet === Set(ch(30, "k1", "v1b"), ch(20, "k2", "v2a"),
      ch(40, "k3", "v3a"), rs(45)))
    // the segment above the cursor is byte-untouched
    assert(ChangefeedLog.readSegment(segs(1).path).toSeq === Seq(ch(200, "k2", "v2b")))
    // a consumer reading the whole log now materializes the same state
    // the uncompacted log would have produced (latest per key overall)
    val got = spark.read.format("graft-changefeed").option("path", dir).load()
      .where(col("tbl").isNotNull).collect()
      .groupBy(_.getString(2)).view
      .mapValues(rows => rows.maxBy(_.getLong(0)).getString(3)).toMap
    assert(got === Map("k1" -> "v1b", "k2" -> "v2b", "k3" -> "v3a"))
  }

  test("compaction rerun is idempotent (crash between write and deletes)") {
    val dir = buildLog()
    val first = ChangefeedLog.compact(dir, 100L).get
    // simulate the crash leftover: restore a victim next to the
    // compacted segment, then re-run
    ChangefeedLog.writeSegment(dir, Seq(ch(10, "k1", "v1a"), ch(20, "k2", "v2a"), rs(25)))
    val second = ChangefeedLog.compact(dir, 100L).get
    assert(second.getFileName === first.getFileName, "compacted name not stable")
    val segs = ChangefeedLog.listSegments(dir)
    assert(segs.length === 2)
    assert(ChangefeedLog.readSegment(segs.head.path).toSet ===
      Set(ch(30, "k1", "v1b"), ch(20, "k2", "v2a"), ch(40, "k3", "v3a"), rs(45)))
  }

  test("property: compaction == driver-side latest-per-key on random logs") {
    val rnd = new scala.util.Random(0xD1CE)
    val recordOrd: Ordering[Record] =
      Ordering.by(r => (r.sortUs, r.key.getOrElse(""), r.value))
    for (trial <- 1 to 20) {
      val dir = Files.createTempDirectory("graft-compact-prop").toString
      val nKeys = 1 + rnd.nextInt(6)
      val rows = (1 to 2 + rnd.nextInt(30)).map { i =>
        if (rnd.nextInt(5) == 0) rs(i * 10L)
        else ch(i * 10L, s"k${rnd.nextInt(nKeys)}", s"v$i")
      }
      rows.grouped(math.max(rows.size / (rnd.nextInt(3) + 1), 1))
        .foreach(g => ChangefeedLog.writeSegment(dir, g))
      val cutoff = rows(rnd.nextInt(rows.size)).sortUs
      // expected state, recomputed driver-side from the BEFORE segments:
      // fully-covered segments compact to latest-per-key + max resolved;
      // straddling/newer segments survive verbatim
      val segsBefore = ChangefeedLog.listSegments(dir)
        .map(s => ChangefeedLog.readSegment(s.path).toSeq)
      val (victims, kept) = segsBefore.partition(_.forall(_.sortUs <= cutoff))
      val victimRows = victims.flatten
      val compactedPart =
        victimRows.filter(_.tbl.isDefined)
          .groupBy(r => (r.tbl, r.key))
          .map { case (_, vs) => vs.maxBy(r => (r.sortUs, r.value)) }.toSeq ++
          (victimRows.filter(_.tbl.isEmpty) match {
            case Seq() => Seq.empty
            case res => Seq(res.maxBy(_.sortUs))
          })
      val expected = (kept.flatten ++ compactedPart).sorted(recordOrd)
      ChangefeedLog.compact(dir, cutoff)
      val after = ChangefeedLog.listSegments(dir)
        .flatMap(s => ChangefeedLog.readSegment(s.path).toSeq).sorted(recordOrd)
      assert(after === expected, s"trial $trial cutoff $cutoff")
    }
  }

  test("compact below everything is a no-op; straddling segments survive") {
    val dir = Files.createTempDirectory("graft-compact2").toString
    ChangefeedLog.writeSegment(dir, Seq(ch(50, "k", "v"), ch(150, "k", "v2")))
    assert(ChangefeedLog.compact(dir, 10L).isEmpty) // nothing wholly below
    assert(ChangefeedLog.compact(dir, 100L).isEmpty) // straddler left alone
    assert(ChangefeedLog.listSegments(dir).length === 1)
  }

  test("invalid UTF-8 below the cursor fails compaction; no byte is rewritten") {
    // the relay forwards such bytes verbatim, but compaction rewrites
    // records as text: it must not swap the byte for U+FFFD
    val dir = buildLog()
    val bad = java.nio.file.Paths.get(dir, "seg-50-50-badutf8.log")
    val bytes = "50\tevents\tk9\tv".getBytes("UTF-8") :+ 0xFF.toByte
    Files.write(bad, bytes)
    val before = ChangefeedLog.listSegments(dir).map(_.path)
    intercept[java.nio.charset.MalformedInputException](ChangefeedLog.compact(dir, 100L))
    assert(ChangefeedLog.listSegments(dir).map(_.path) === before)
    assert(Files.readAllBytes(bad).sameElements(bytes))
  }
}
