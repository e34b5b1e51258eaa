package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.unsafe.types.UTF8String

/** On-disk layout of a changefeed log — the durable stand-in for the
  * reference's live CockroachDB changefeed cursor (src/main.rs:205-221):
  * an append-only directory of immutable segment files, each covering a
  * contiguous `sort_us` range, plus a `_gc_floor` marker mirroring the
  * database's replica GC threshold.
  *
  * Segment name carries the row range (`seg-<firstUs>-<lastUs>-<id>.log`)
  * so micro-batch PLANNING is a directory listing — no data is read on
  * the driver, exactly like Kafka offset planning. Row format is one
  * escaped TSV record per line: `sort_us<TAB>tbl<TAB>key<TAB>value`
  * with `\N` for SQL NULL (resolved rows have NULL tbl/key).
  */
object ChangefeedLog {

  /** `tblTag`: the TABLE-ROUTED layout marker. `None` = classic mixed
    * segment; `Some(t)` = every record in this segment has tbl == t
    * (`Some(None)` = all resolved rows, whose tbl is SQL NULL). When
    * EVERY segment of a log carries a tag, the DSv2 scan reports
    * KeyGroupedPartitioning over `tbl` and a groupBy/join on the
    * routing key runs exchange-free (SupportsReportPartitioning). */
  final case class Segment(path: Path, firstUs: Long, lastUs: Long,
      tblTag: Option[Option[String]] = None)

  /** One changefeed record — matches the (table, key, value) triple the
    * reference reads off the feed, plus its HLC-ish sort timestamp. */
  final case class Record(sortUs: Long, tbl: Option[String],
      key: Option[String], value: String)

  // optional -t<tag> = table-routed segment: tn (resolved/NULL tbl) or
  // tx<hex-utf8-of-table-name> (hex keeps arbitrary table names inside
  // the filename grammar)
  private val SegmentName =
    raw"seg-(\d+)-(\d+)-([0-9a-zA-Z]+)(?:-t(n|x[0-9a-f]*))?\.log".r

  private[sources] def encodeTblTag(tbl: Option[String]): String = tbl match {
    case None => "n"
    case Some(t) =>
      "x" + t.getBytes(StandardCharsets.UTF_8).map("%02x".format(_)).mkString
  }

  private[sources] def decodeTblTag(tag: String): Option[String] =
    if (tag == "n") None
    else Some(new String(tag.drop(1).grouped(2)
      .map(h => Integer.parseInt(h, 16).toByte).toArray, StandardCharsets.UTF_8))
  private val GcFloorFile = "_gc_floor"
  private val Null = "\\N"

  private[sources] def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }

  private def fmt(r: Record): String =
    s"${r.sortUs}\t${r.tbl.map(esc).getOrElse(Null)}\t" +
      s"${r.key.map(esc).getOrElse(Null)}\t${esc(r.value)}"

  /** The one parser of the row format: a cursor over a segment file's
    * bytes. `next()` finds the next non-empty line — `\n`, `\r` and
    * `\r\n` each end one, as `readAllLines` has it — splits it at its
    * first three tabs and parses `sort_us`; a line with fewer than
    * three tabs, or a non-numeric `sort_us`, throws. The text fields
    * stay where they are until asked for: `tbl`, `key` and `value`
    * return [[UTF8String]] slices of the buffer, and a field is
    * unescaped into a copy only when it holds a backslash. `\N` is
    * SQL NULL for `tbl` and `key` and a literal `\N` inside `value`;
    * `\\ \t \n \r` are decoded, any other escape and a trailing lone
    * backslash are kept as written. Bytes are not checked for UTF-8
    * here, so the relay forwards a value verbatim, as the reference
    * does with its `value: bytes`; [[record]] decodes strictly. */
  final class SegmentReader(buf: Array[Byte]) {
    private var pos = 0
    // [from, until) of tbl, key and value in `buf`; bit i of `escaped`
    // is set when field i holds a backslash
    private val from = new Array[Int](3)
    private val until = new Array[Int](3)
    private var escaped = 0
    private var us = 0L

    def sortUs: Long = us

    /** Advance to the next non-empty line; false at the end of the file. */
    def next(): Boolean = {
      val n = buf.length
      while (pos < n && (buf(pos) == '\n' || buf(pos) == '\r')) pos += 1
      if (pos == n) return false
      val start = pos
      var usEnd = -1
      var field = -1 // the text field being scanned, -1 for sort_us
      var esc = 0
      var b: Int = buf(pos)
      while (b != '\n' && b != '\r') {
        if (b == '\\') { if (field >= 0) esc |= 1 << field }
        else if (b == '\t' && field < 2) {
          if (field < 0) usEnd = pos else until(field) = pos
          field += 1
          from(field) = pos + 1
        }
        pos += 1
        b = if (pos < n) buf(pos) else '\n'
      }
      require(field == 2, "malformed changefeed log line: " +
        new String(buf, start, pos - start, StandardCharsets.UTF_8))
      until(2) = pos
      escaped = esc
      us = parseUs(start, usEnd)
      true
    }

    def tbl: UTF8String = if (isNull(0)) null else utf8(0)
    def key: UTF8String = if (isNull(1)) null else utf8(1)
    def value: UTF8String = utf8(2)

    /** The current line as a [[Record]], its fields decoded strictly: a
      * malformed UTF-8 sequence throws [[java.nio.charset.MalformedInputException]]
      * rather than becoming U+FFFD. */
    def record: Record = Record(us,
      if (isNull(0)) None else Some(string(0)),
      if (isNull(1)) None else Some(string(1)),
      string(2))

    private def isNull(i: Int): Boolean =
      until(i) - from(i) == 2 && buf(from(i)) == '\\' && buf(from(i) + 1) == 'N'

    private def utf8(i: Int): UTF8String =
      if ((escaped & (1 << i)) == 0) UTF8String.fromBytes(buf, from(i), until(i) - from(i))
      else UTF8String.fromBytes(unescape(from(i), until(i)))

    private def string(i: Int): String =
      if ((escaped & (1 << i)) == 0) decodeStrict(buf, from(i), until(i) - from(i))
      else { val u = unescape(from(i), until(i)); decodeStrict(u, 0, u.length) }

    private def unescape(start: Int, end: Int): Array[Byte] = {
      val out = new Array[Byte](end - start)
      var i = start
      var n = 0
      while (i < end) {
        val c = buf(i)
        if (c == '\\' && i + 1 < end) {
          val e = buf(i + 1)
          if (e == '\\') { out(n) = e; n += 1 }
          else if (e == 't') { out(n) = '\t'.toByte; n += 1 }
          else if (e == 'n') { out(n) = '\n'.toByte; n += 1 }
          else if (e == 'r') { out(n) = '\r'.toByte; n += 1 }
          else { out(n) = c; out(n + 1) = e; n += 2 }
          i += 2
        } else { out(n) = c; n += 1; i += 1 }
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    private def parseUs(start: Int, end: Int): Long =
      java.lang.Long.parseLong(new String(buf, start, end - start, StandardCharsets.UTF_8))
  }

  /** UTF-8 to String, throwing on malformed input rather than
    * replacing it with U+FFFD as the JDK's String decoder does. */
  private[sources] def decodeStrict(b: Array[Byte], off: Int, len: Int): String =
    StandardCharsets.UTF_8.newDecoder()
      .decode(java.nio.ByteBuffer.wrap(b, off, len)).toString

  /** The records of a segment file's bytes, through [[SegmentReader]]. */
  private[sources] def parse(bytes: Array[Byte]): Iterator[Record] = {
    val r = new SegmentReader(bytes)
    new Iterator[Record] {
      private var ready = r.next()
      override def hasNext: Boolean = ready
      override def next(): Record = {
        if (!ready) throw new NoSuchElementException("end of segment")
        val rec = r.record
        ready = r.next()
        rec
      }
    }
  }

  /** Append one immutable segment (records sorted by sort_us; write to a
    * temp file then atomic-rename so readers never see partial files). */
  def writeSegment(dir: String, records: Seq[Record]): Path =
    writeSegmentAs(dir, records,
      java.util.UUID.randomUUID.toString.replace("-", "").take(12))

  /** Same, with a CALLER-CHOSEN segment id: a deterministic id (e.g.
    * epoch+partition from a streaming writer) makes re-executed writes
    * idempotent — the retry atomically replaces the identical segment
    * instead of appending a duplicate. */
  def writeSegmentAs(dir: String, records: Seq[Record], id: String): Path =
    writeSegmentAs(dir, records, id, tagTbl = false)

  /** Same, optionally stamping the table-routed tag: with `tagTbl` the
    * segment name asserts "every record's tbl equals this one value" —
    * enforced here, because the DSv2 partitioning report derives an
    * exchange-elimination guarantee from it. */
  def writeSegmentAs(dir: String, records: Seq[Record], id: String,
      tagTbl: Boolean): Path = {
    require(records.nonEmpty, "empty changefeed segment")
    require(id.matches("[0-9a-zA-Z]+"), s"bad segment id '$id'")
    // segment NAMES carry the range and the name grammar is \d+ — a
    // negative sort_us would write a file listSegments can never list
    // (silent data loss); HLC-ish timestamps are non-negative, enforce it
    require(records.forall(_.sortUs >= 0),
      s"negative sort_us in segment (first: ${records.find(_.sortUs < 0).get.sortUs})")
    val tagSuffix = if (!tagTbl) "" else {
      val tbls = records.map(_.tbl).distinct
      require(tbls.size == 1,
        s"table-routed segment must hold ONE table, got ${tbls.take(5)}")
      s"-t${encodeTblTag(tbls.head)}"
    }
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val sorted = records.sortBy(r => (r.sortUs, r.key.getOrElse("")))
    val name = s"seg-${sorted.head.sortUs}-${sorted.last.sortUs}-$id$tagSuffix.log"
    // per-attempt tmp name: concurrent attempts (speculation) must not
    // share a scratch file; the atomic move arbitrates the final name
    val tmp = d.resolve(
      s".$name.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, sorted.map(fmt).mkString("\n").getBytes(StandardCharsets.UTF_8))
    val dst = d.resolve(name)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    dst
  }

  /** The segments in `dir`, ordered by (firstUs, lastUs, file name). */
  def listSegments(dir: String): Seq[Segment] = {
    val named = listNamed(dir)
    java.util.Arrays.sort(named, ByRange)
    named.iterator.map(_._1).toList
  }

  /** The largest lastUs in `dir`, from one listing and without a sort:
    * the offset a micro-batch stream polls for between batches. */
  def maxLastUs(dir: String): Option[Long] = {
    val named = listNamed(dir)
    if (named.isEmpty) None else Some(named.iterator.map(_._1.lastUs).max)
  }

  // each comparison reads keys computed once per listing; a sortBy over
  // (firstUs, lastUs, path.toString) boxed both longs and rebuilt the
  // path string on every comparison. One directory, so comparing file
  // names orders as comparing paths did.
  private val ByRange: java.util.Comparator[(Segment, String)] = (a, b) => {
    val c = java.lang.Long.compare(a._1.firstUs, b._1.firstUs)
    if (c != 0) c
    else {
      val d = java.lang.Long.compare(a._1.lastUs, b._1.lastUs)
      if (d != 0) d else a._2.compareTo(b._2)
    }
  }

  /** Every segment in `dir` with its file name, in listing order. */
  private def listNamed(dir: String): Array[(Segment, String)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Array.empty
    else {
      // close the directory stream — this runs on the driver every
      // micro-batch, so a leaked fd per call adds up in a long stream
      val st = Files.list(d)
      try {
        st.iterator.asScala.flatMap { p =>
          val name = p.getFileName.toString
          name match {
            case SegmentName(first, last, _, tag) =>
              Some((Segment(p, first.toLong, last.toLong,
                Option(tag).map(decodeTblTag)), name))
            case _ => None
          }
        }.toArray
      } finally st.close()
    }
  }

  /** A segment's records, decoded strictly (see [[SegmentReader.record]]):
    * compaction rewrites from these, and must not swap a byte it cannot
    * decode for U+FFFD. */
  def readSegment(path: Path): Iterator[Record] = parse(Files.readAllBytes(path))

  /** A reader over a segment file, read whole (see [[SegmentReader]]). */
  def openSegment(path: Path): SegmentReader = new SegmentReader(Files.readAllBytes(path))

  /** The replica-GC threshold: data at or below this sort_us may have
    * been reclaimed; a consumer cursor below it is invalid. */
  def gcFloorUs(dir: String): Option[Long] = {
    val f = Paths.get(dir, GcFloorFile)
    if (Files.exists(f))
      Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  /** Garbage-collect: drop every segment wholly at-or-below `floorUs`
    * and record the new floor — the moral equivalent of CockroachDB's
    * replica GC advancing past old MVCC history. */
  def gc(dir: String, floorUs: Long): Unit = {
    listSegments(dir).filter(_.lastUs <= floorUs)
      .foreach(s => Files.delete(s.path))
    Files.write(Paths.get(dir, GcFloorFile),
      floorUs.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** §2#160 log COMPACTION — Kafka compacted-topic semantics, the
    * third retention policy next to keep-everything (append) and
    * drop-everything ([[gc]]): every segment wholly at-or-below
    * `belowUs` is rewritten into ONE segment holding only the LATEST
    * change per (table, key) — same (sort_us, value) winner rule as
    * the cdc_compact query and the streaming CdcApply — plus the
    * single maximum resolved row (older resolved ticks are subsumed).
    * A late-joining consumer then bootstraps from |live keys| rows
    * instead of replaying all history, while consumers past `belowUs`
    * see identical data.
    *
    * Crash-safety is write-then-delete with a DETERMINISTIC segment id
    * derived from `belowUs`: the compacted segment lands atomically
    * first, victim deletes follow. A crash in between leaves
    * duplicates (compacted + originals) — at-least-once, exactly what
    * feed consumers already tolerate — and RE-RUNNING the compaction
    * is idempotent: the previous compacted segment is itself a victim,
    * re-compacts to the same rows, same range, same name, and is
    * atomically replaced while the leftover originals are removed.
    * Segments straddling `belowUs` are left alone (immutable). */
  def compact(dir: String, belowUs: Long): Option[Path] = {
    val victims = listSegments(dir).filter(_.lastUs <= belowUs)
    if (victims.isEmpty) None
    else {
      val records = victims.flatMap(s => readSegment(s.path))
      val changes = records.filter(_.tbl.isDefined)
        .groupBy(r => (r.tbl, r.key))
        .map { case (_, vs) => vs.maxBy(r => (r.sortUs, r.value)) }
      val resolved = records.filter(_.tbl.isEmpty)
      val keepResolved =
        if (resolved.isEmpty) Seq.empty else Seq(resolved.maxBy(_.sortUs))
      val out = writeSegmentAs(dir, (changes ++ keepResolved).toSeq,
        s"compacted$belowUs")
      victims.filter(_.path.getFileName != out.getFileName)
        .foreach(s => Files.deleteIfExists(s.path))
      Some(out)
    }
  }
}
