package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Max, Min}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.InvalidCursorException

/** `graft-changefeed` — a DataSource V2 micro-batch source for the
  * changefeed log (see ChangefeedLog), the Spark-native re-expression
  * of the reference's live changefeed cursor loop
  * (crdb-changefeed-publisher src/main.rs:205-221).
  *
  * Mapping to the reference:
  *  - the streamed `(table, key, value)` triple + HLC timestamp →
  *    rows `(sort_us, tbl, key, value)`;
  *  - `cursor='<stored>'` resume (src/main.rs:117-126) → the
  *    `startCursor` option seeds `initialOffset`;
  *  - "batch timestamp ... must be after replica GC threshold"
  *    (src/main.rs:183-198) → a cursor below the log's `_gc_floor`
  *    raises InvalidCursorException at offset planning;
  *  - exactly-once offset tracking the reference lacks comes free from
  *    Structured Streaming checkpointing of `ChangefeedOffset`.
  *
  * Scale: driver-side planning is a file listing (segment names carry
  * the covered sort_us range — no data read, like Kafka metadata);
  * each segment becomes one InputPartition so read parallelism tracks
  * segment count; rows are parsed executor-side straight to
  * InternalRow.
  *
  * Options: `path` (required), `startCursor` (µs — rows at or below are
  * skipped), `gcFloorUs` (explicit floor; else the log's `_gc_floor`).
  */
class ChangefeedDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-changefeed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangefeedDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangefeedTable(properties.asScala.toMap)
}

object ChangefeedDataSource {
  val schema: StructType = StructType(Seq(
    StructField("sort_us", LongType, nullable = false),
    StructField("tbl", StringType, nullable = true),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false)))
}

class ChangefeedTable(properties: Map[String, String]) extends Table
    with SupportsRead with SupportsWrite {
  private val dir = properties.getOrElse("path",
    throw new IllegalArgumentException("graft-changefeed requires option 'path'"))
  override def name(): String = s"graft-changefeed:$dir"
  override def schema(): StructType = ChangefeedDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangefeedScan(dir,
      Option(options.get("startCursor")).map(_.toLong),
      Option(options.get("gcFloorUs")).map(_.toLong),
      Option(options.get("maxSegmentsPerTrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ChangefeedWriteBuilder(dir, info)
}

/** Scan builder with the two pushdowns a log source can honor exactly:
  *
  *  - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): the reader
  *    materializes only the requested fields — a `select(value)` never
  *    builds tbl/key UTF8Strings;
  *  - `sort_us` RANGE FILTERS (`SupportsPushDownFilters`): >=, >, <=,
  *    <, = on the offset column fold into one (min, max] range that
  *    prunes whole SEGMENTS at planning time (names carry their range —
  *    the same metadata-only pruning Kafka does with timestamp offsets)
  *    and bounds the row filter inside surviving segments. Range
  *    filters are consumed EXACTLY (not re-evaluated post-scan);
  *    everything else stays residual for Spark;
  *  - global MIN/MAX(sort_us) AGGREGATES
  *    (`SupportsPushDownAggregates`): segment names already carry their
  *    exact row range, so the cursor-discovery query every consumer
  *    runs on restart — `SELECT max(sort_us) FROM changefeed`
  *    (src/main.rs:117-139's read-cursor-back) — is answered from the
  *    directory LISTING, zero segments opened: O(segments) metadata at
  *    100 TB instead of a full log scan. Pushed only when no grouping
  *    and no consumed range filter could cut a segment's interior
  *    (conservative: any pushed filter disables aggregate pushdown);
  *  - LIMIT pushdown (`SupportsPushDownLimit`): `df.limit(n)` against
  *    a multi-year retained log plans n segments, not all of them —
  *    every listed segment is non-empty, so n segments cover ≥ n rows;
  *    partial push (Spark still applies the LIMIT), and skipped
  *    whenever row-level filtering could starve a planned segment;
  *  - TopN pushdown (`SupportsPushDownTopN`): `ORDER BY sort_us
  *    [DESC] LIMIT n` — "the latest n changes", the standing ops
  *    query on any feed — opens only the n segments with the largest
  *    lastUs (desc) / smallest firstUs (asc); sound because segment
  *    names carry EXACT row ranges (the boundary rows exist), so
  *    those segments contain a valid top-n multiset. Partial push,
  *    same row-filter guard as LIMIT.
  */
class ChangefeedScan(dir: String, startCursorUs: Option[Long],
    explicitFloorUs: Option[Long],
    maxSegmentsPerTrigger: Option[Int] = None) extends ScanBuilder with Scan
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsRuntimeFiltering
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.sources._

  private var prunedSchema: StructType = ChangefeedDataSource.schema
  // consumed range: sort_us > minExclusiveUs AND sort_us <= maxInclusiveUs
  private var minExclusiveUs: Long = Long.MinValue
  private var maxInclusiveUs: Long = Long.MaxValue
  private var consumed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    prunedSchema = requiredSchema

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition {
      case GreaterThan("sort_us", v) => asLong(v).isDefined
      // the three cases below compute `literal - 1` to convert to the
      // (minExclusive, maxInclusive] form; at Long.MinValue that wraps to
      // Long.MaxValue and — because consumed filters are never re-evaluated
      // post-scan — would silently invert the result. Leave the boundary
      // literal in the residual instead (Spark evaluates it after the scan).
      case GreaterThanOrEqual("sort_us", v) => asLong(v).exists(_ != Long.MinValue)
      case LessThan("sort_us", v) => asLong(v).exists(_ != Long.MinValue)
      case LessThanOrEqual("sort_us", v) => asLong(v).isDefined
      case EqualTo("sort_us", v) => asLong(v).exists(_ != Long.MinValue)
      case _ => false
    }
    sup.foreach {
      case GreaterThan("sort_us", v) =>
        minExclusiveUs = math.max(minExclusiveUs, asLong(v).get)
      case GreaterThanOrEqual("sort_us", v) =>
        minExclusiveUs = math.max(minExclusiveUs, asLong(v).get - 1)
      case LessThan("sort_us", v) =>
        maxInclusiveUs = math.min(maxInclusiveUs, asLong(v).get - 1)
      case LessThanOrEqual("sort_us", v) =>
        maxInclusiveUs = math.min(maxInclusiveUs, asLong(v).get)
      case EqualTo("sort_us", v) =>
        minExclusiveUs = math.max(minExclusiveUs, asLong(v).get - 1)
        maxInclusiveUs = math.min(maxInclusiveUs, asLong(v).get)
      case _ => ()
    }
    consumed = sup
    residual
  }

  override def pushedFilters(): Array[Filter] = consumed

  // RUNTIME filtering (SupportsRuntimeFiltering): when the feed is
  // equi-joined on sort_us against a small frame (point-lookup replay
  // of specific commit timestamps — the audit query "show me exactly
  // the rows at these HLC instants"), Spark hands the build side's
  // values over at execution time and planInputPartitions re-runs —
  // segments whose [first,last] range contains none of them are never
  // opened. Best-effort by contract: row-level equality is still
  // enforced by the join, so range-level pruning here is sound.
  private var runtimeSortUs: Option[Seq[Long]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("sort_us"))

  override def filter(filters: Array[Filter]): Unit = {
    runtimeSortUs = filters.collectFirst {
      case In("sort_us", vs) => vs.toSeq.flatMap(asLong)
      case EqualTo("sort_us", v) => asLong(v).toSeq
    }
  }

  // LIMIT pushdown (SupportsPushDownLimit): `df.limit(n)` / `df.head`
  // against a multi-year retained log must not plan EVERY segment.
  // Every listed segment is non-empty (its name carries the first/last
  // row instants), so with no row-level filtering in play, planning
  // the first `n` segments guarantees >= n surviving rows (or exhausts
  // the log). PARTIAL push by contract (isPartiallyPushed default):
  // Spark still applies the final LIMIT, this only bounds segments
  // opened. When a sort_us range or runtime filter is active, a
  // planned segment may contribute ZERO surviving rows, so the
  // shortcut is skipped (correctness before admission control).
  private var pushedLimit: Option[Int] = None

  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }

  private def limitShortcutSound: Boolean =
    minExclusiveUs == Long.MinValue && maxInclusiveUs == Long.MaxValue &&
      runtimeSortUs.isEmpty

  // TopN pushdown (SupportsPushDownTopN): `ORDER BY sort_us [DESC]
  // LIMIT n` — "the latest n changes", THE standing ops query on any
  // feed. Sound from segment names alone: a segment's first row IS its
  // firstUs and its last row IS its lastUs (names carry exact row
  // ranges), so the n segments with the smallest firstUs (ascending) /
  // largest lastUs (descending) contain a valid top-n row multiset —
  // every row outside them is ≥ (resp. ≤) some n rows inside. PARTIAL
  // push: Spark still sorts + limits the surviving rows; this only
  // bounds segments opened. Same row-filter guard as LIMIT.
  private var topN: Option[(Boolean, Int)] = None // (descending, n)

  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    val ok = orders.length == 1 && isSortUs(orders(0).expression())
    if (ok)
      topN = Some((orders(0).direction() == SortDirection.DESCENDING, limit))
    ok
  }

  // both LIMIT and TopN are admission-only (Spark re-applies the
  // operator); the two traits' identical defaults need one arbiter
  override def isPartiallyPushed(): Boolean = true

  // "min" / "max" per pushed aggregate, in Spark's requested order
  private var pushedAggs: Array[String] = Array.empty

  private def isSortUs(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case nr: NamedReference =>
        nr.fieldNames.length == 1 && nr.fieldNames()(0) == "sort_us"
      case _ => false
    }

  private def canPushAgg(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      minExclusiveUs == Long.MinValue && maxInclusiveUs == Long.MaxValue &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case m: Min => isSortUs(m.column)
        case m: Max => isSortUs(m.column)
        case _ => false
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean = canPushAgg(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (!canPushAgg(agg)) false
    else {
      pushedAggs = agg.aggregateExpressions.map {
        case _: Min => "min"
        case _: Max => "max"
      }
      true
    }

  // Ordering REPORT (SupportsReportOrdering): every segment is written
  // sorted by (sort_us, key) (ChangefeedLog.writeSegmentAs) and one
  // partition = one sequentially-read segment, so rows leave each
  // partition sort_us-ascending — declaring it lets Spark DELETE the
  // per-partition SortExec under any plan that needs that order (a
  // sortWithinPartitions, the sort half of a sort-merge join, a
  // sort-based aggregate on sort_us). Pruning/range/runtime filters
  // only drop rows, never reorder, so the claim survives every
  // pushdown combination; it is withdrawn only when sort_us itself is
  // pruned away (nothing left to order by) or the scan collapsed to
  // the metadata-only aggregate row.
  override def outputOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    if (pushedAggs.nonEmpty || !prunedSchema.fieldNames.contains("sort_us"))
      Array.empty
    else Array(Expressions.sort(
      Expressions.column("sort_us"), SortDirection.ASCENDING))
  }

  // Statistics REPORT (SupportsReportStatistics): size from the
  // SAME metadata-pruned segment list the batch plans — a narrow
  // sort_us slice of a multi-year log reports the slice's bytes, not
  // the log's, so the OPTIMIZER (not a hint) picks broadcast when a
  // feed slice joins a big table: the pruned size falls under
  // autoBroadcastJoinThreshold and the exchange disappears. The
  // metadata aggregate reports one row. numRows is left unset for
  // row scans — segment names carry time ranges, not counts, and a
  // wrong row estimate is worse than none (sizeInBytes is what join
  // strategy reads). Listing + one size stat per surviving file,
  // driver-side, planning-time only.
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val (bytes, rows): (Long, java.util.OptionalLong) =
        if (pushedAggs.nonEmpty) (64L, java.util.OptionalLong.of(1L))
        else {
          val surviving = ChangefeedLog.listSegments(dir)
            .filter(s => s.lastUs > minExclusiveUs && s.firstUs <= maxInclusiveUs)
          val b = surviving.map { s =>
            try java.nio.file.Files.size(s.path) catch { case _: Exception => 0L }
          }.sum
          (b, java.util.OptionalLong.empty())
        }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }

  // Partitioning REPORT (SupportsReportPartitioning — the last standard
  // scan mixin): when the log was written TABLE-ROUTED (every segment
  // name carries a -t tag asserting "one table per segment", the
  // Spark-native twin of the reference's one-queue-per-table fan-out,
  // src/queues.rs), one input partition = one single-table segment, so
  // the scan's output is ALREADY clustered by the routing key and says
  // so: KeyGroupedPartitioning(identity(tbl)) with each partition
  // exposing its table as the partition key (HasPartitionKey). Under
  // spark.sql.sources.v2.bucketing.enabled, Spark groups same-table
  // segments into one task and a groupBy/aggregate on tbl (the
  // per-table relay accounting query) runs with NO exchange — the
  // shuffle the segment layout already paid for at write time is not
  // paid again at read time. Withdrawn (UnknownPartitioning) when any
  // segment is untagged (mixed layout proves nothing), when tbl is
  // pruned from the output (nothing to cluster on), or when the scan
  // collapsed to the metadata aggregate row. Row-dropping pushdowns
  // (range/runtime filters, limit/topN admission) never MIX tables
  // into a partition, so the claim survives all of them.
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val planned = rowScanPartitions
    val routed = planned.nonEmpty && planned.forall(_.tblKey.isDefined)
    if (pushedAggs.isEmpty && routed && prunedSchema.fieldNames.contains("tbl"))
      new KeyGroupedPartitioning(
        Array(Expressions.identity("tbl")), planned.length)
    else new UnknownPartitioning(if (pushedAggs.nonEmpty) 1 else planned.length)
  }

  /** The row-scan partition list — ONE computation shared by the batch
    * planner and the partitioning report so the two can never disagree
    * on count or keys. */
  private def rowScanPartitions: Array[ChangefeedPartition] = {
    val surviving = ChangefeedLog.listSegments(dir)
      .filter(s => s.lastUs > minExclusiveUs && s.firstUs <= maxInclusiveUs)
      .filter(s => runtimeSortUs.forall(_.exists(v =>
        v >= s.firstUs && v <= s.lastUs)))
    val admitted = (topN, pushedLimit) match {
      // listSegments returns firstUs-ascending order; descending
      // top-n takes the n largest lastUs instead
      case (Some((false, n)), _) if limitShortcutSound =>
        surviving.take(math.max(n, 1))
      case (Some((true, n)), _) if limitShortcutSound =>
        surviving.sortBy(s => (-s.lastUs, -s.firstUs)).take(math.max(n, 1))
      case (None, Some(n)) if limitShortcutSound =>
        surviving.take(math.max(n, 1))
      case _ => surviving
    }
    admitted.map(s => ChangefeedPartition(s.path.toString,
      minExclusiveUs, maxInclusiveUs, s.tblTag)).toArray
  }

  override def build(): Scan = this
  override def readSchema(): StructType =
    if (pushedAggs.isEmpty) prunedSchema
    else StructType(pushedAggs.map(f =>
      StructField(s"$f(sort_us)", LongType, nullable = true)))
  override def description(): String =
    s"graft-changefeed $dir pushed=(${minExclusiveUs},${maxInclusiveUs}] " +
      s"cols=${prunedSchema.fieldNames.mkString(",")}" +
      (if (pushedAggs.isEmpty) ""
       else s" aggs=${pushedAggs.map(_ + "(sort_us)").mkString(",")}") +
      pushedLimit.fold("")(n => s" limit=$n") +
      topN.fold("") { case (desc, n) =>
        s" topN=$n(${if (desc) "desc" else "asc"})" }

  override def toBatch: Batch =
    if (pushedAggs.nonEmpty) new Batch {
      // answered ENTIRELY from the directory listing: segment names
      // carry exact row ranges, so min/max over rows == min/max over
      // segment bounds; an empty log yields SQL-correct NULLs
      override def planInputPartitions(): Array[InputPartition] = {
        val segs = ChangefeedLog.listSegments(dir)
        val mn = if (segs.isEmpty) None else Some(segs.map(_.firstUs).min)
        val mx = if (segs.isEmpty) None else Some(segs.map(_.lastUs).max)
        Array(ChangefeedAggPartition(pushedAggs.map {
          case "min" => mn
          case "max" => mx
        }))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        ChangefeedAggReaderFactory()
    } else new Batch {
      // batch read = replay of the retained segments INTERSECTING the
      // pushed sort_us range (metadata-only pruning, no segment opened);
      // a runtime join-key filter additionally drops segments whose
      // range contains none of the joined values
      override def planInputPartitions(): Array[InputPartition] =
        rowScanPartitions.map(p => p: InputPartition)
      override def createReaderFactory(): PartitionReaderFactory =
        ChangefeedReaderFactory(prunedSchema.fieldNames)
    }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangefeedMicroBatchStream(dir, startCursorUs, explicitFloorUs,
      prunedSchema.fieldNames, maxSegmentsPerTrigger)
}

/** Offset = "every row with sort_us <= us has been consumed". */
case class ChangefeedOffset(us: Long) extends Offset {
  override def json(): String = s"""{"sort_us":$us}"""
}

class ChangefeedMicroBatchStream(dir: String, startCursorUs: Option[Long],
    explicitFloorUs: Option[Long],
    fieldNames: Array[String] = ChangefeedDataSource.schema.fieldNames,
    maxSegmentsPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def floorUs: Option[Long] =
    explicitFloorUs.orElse(ChangefeedLog.gcFloorUs(dir))

  /** Reference src/main.rs:183-198 — a resume point below the replica GC
    * threshold means the in-between history is gone; fail loudly so the
    * consumer can decide to restart from scratch (startWithRetry). A
    * from-the-beginning consumer (no cursor) reads whatever is retained,
    * like a fresh changefeed. */
  private def validate(cursorUs: Long): Unit =
    floorUs.filter(f => cursorUs >= 0 && cursorUs < f).foreach { f =>
      throw new InvalidCursorException(
        s"cursor timestamp $cursorUs must be after replica GC threshold $f")
    }

  @volatile private var availableNowEndUs: Option[Long] = None

  private def maxAvailableUs: Long = {
    val base = startCursorUs.getOrElse(-1L)
    ChangefeedLog.maxLastUs(dir).fold(base)(math.max(base, _))
  }

  override def initialOffset(): Offset = {
    val start = startCursorUs.getOrElse(-1L)
    validate(start)
    ChangefeedOffset(start)
  }

  override def latestOffset(): Offset =
    ChangefeedOffset(availableNowEndUs.getOrElse(maxAvailableUs))

  /** Admission control (SupportsTriggerAvailableNow extends
    * SupportsAdmissionControl): `maxSegmentsPerTrigger` caps each
    * micro-batch at the next N pending segments — the `maxFilesPerTrigger`
    * of this log. Without it a week-long backfill replays as ONE
    * micro-batch whose state/shuffle must fit executor memory all at
    * once; with it the backfill drains as a sequence of bounded batches
    * (AvailableNow loops until the prepared end, checkpointing each).
    * The cap is segment-granular and approximate: the admitted offset
    * is the max lastUs of the taken segments, so an overlapping
    * same-epoch segment can ride along — offsets stay watermark-exact
    * either way. */
  override def getDefaultReadLimit: ReadLimit =
    maxSegmentsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ChangefeedOffset].us
    val cap = availableNowEndUs.getOrElse(maxAvailableUs)
    val end = limit match {
      case mf: ReadMaxFiles =>
        val pending = ChangefeedLog.listSegments(dir)
          .filter(seg => seg.lastUs > s && seg.lastUs <= cap)
        if (pending.isEmpty) cap
        else pending.take(mf.maxFiles).map(_.lastUs).max
      case _ => cap
    }
    // never regress below the consumed offset (a stale AvailableNow
    // snapshot must not rewind a checkpoint-resumed stream)
    ChangefeedOffset(math.max(s, math.min(end, cap)))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEndUs = Some(maxAvailableUs)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChangefeedOffset].us
    val e = end.asInstanceOf[ChangefeedOffset].us
    validate(s) // a checkpoint-resumed offset can ALSO have fallen below the floor
    ChangefeedLog.listSegments(dir)
      .filter(seg => seg.lastUs > s && seg.firstUs <= e)
      .map(seg => ChangefeedPartition(seg.path.toString, s, e): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ChangefeedReaderFactory(fieldNames)

  override def deserializeOffset(json: String): Offset = {
    val m = raw""""sort_us"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad changefeed offset: $json"))
    ChangefeedOffset(m.group(1).toLong)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Write path: each task buffers its rows and task-commits them as ONE
  * atomic segment named by a DETERMINISTIC id — `e<epoch>p<partition>`
  * for streaming, `b<queryId>p<partition>` for batch — so a re-executed
  * task (failure retry, speculation) atomically REPLACES the identical
  * segment instead of appending a duplicate: Structured Streaming's
  * at-least-once task execution becomes effectively-once on disk.
  * Driver-side commit/abort are no-ops — segments are already atomically visible or
  * not at all. Closes the CDC loop Spark-natively: a changefeed log can
  * be relayed `readStream → transform → writeStream` into another log
  * with no broker dependency (reference src/queues.rs:44-64 is the
  * broker this stands in for).
  *
  * Memory: one (task, epoch)'s rows are buffered to sort them by
  * sort_us before the segment write — bounded by micro-batch partition
  * size, the same unit Spark already holds for shuffle. */
class ChangefeedWriteBuilder(dir: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = {
    val got = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
    val want = ChangefeedDataSource.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want,
      s"graft-changefeed sink needs schema (sort_us LONG, tbl STRING, key STRING, " +
        s"value STRING); got ${info.schema().simpleString}")
    // an explicit epochId option pins batch-write segment ids — the
    // foreachBatch publish path passes the micro-batch id so per-batch
    // writes are idempotent AND distinct across batches (a bare batch
    // write reuses the query id, which repeats across foreachBatch
    // invocations of the same query)
    val epoch = Option(info.options.get("epochId"))
    // routeByTable=true → TABLE-ROUTED segments: each task splits its
    // rows one-segment-per-table and stamps the -t tag, giving the log
    // the layout whose partitioning report makes downstream
    // per-table reads exchange-free (pair with an upstream
    // repartition(col("tbl")) so each task holds few tables — the
    // same write-side shuffle a bucketed table pays once)
    val routed = Option(info.options.get("routeByTable")).exists(_.toBoolean)
    new ChangefeedWrite(dir,
      epoch.map(e => s"e$e").getOrElse(s"b${info.queryId().replaceAll("[^0-9a-zA-Z]", "")}"),
      routed)
  }
}

class ChangefeedWrite(dir: String, idPrefix: String,
    routeByTable: Boolean = false) extends Write {
  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
      ChangefeedBatchWriterFactory(dir, idPrefix, routeByTable)
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory =
      ChangefeedStreamingWriterFactory(dir, routeByTable)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  }
}

case class ChangefeedBatchWriterFactory(dir: String, idPrefix: String,
    routeByTable: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ChangefeedSegmentWriter(dir, s"${idPrefix}p$partitionId", routeByTable)
}

case class ChangefeedStreamingWriterFactory(dir: String,
    routeByTable: Boolean = false)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ChangefeedSegmentWriter(dir, s"e${epochId}p$partitionId", routeByTable)
}

class ChangefeedSegmentWriter(dir: String, segmentId: String,
    routeByTable: Boolean = false)
    extends DataWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[ChangefeedLog.Record]
  override def write(row: InternalRow): Unit = {
    buf += ChangefeedLog.Record(
      row.getLong(0),
      if (row.isNullAt(1)) None else Some(text(row, 1)),
      if (row.isNullAt(2)) None else Some(text(row, 2)),
      text(row, 3))
    ()
  }
  // decoded strictly: the changefeed source forwards a field's bytes
  // unchecked, and a byte that is not UTF-8 fails the write rather than
  // reaching the log as U+FFFD
  private def text(row: InternalRow, i: Int): String = {
    val b = row.getUTF8String(i).getBytes
    ChangefeedLog.decodeStrict(b, 0, b.length)
  }
  override def commit(): WriterCommitMessage = {
    if (buf.nonEmpty) {
      if (routeByTable)
        // one tagged segment per table in this task's slice; the
        // deterministic (segmentId, tag) pair keeps retries idempotent
        // per table exactly like the mixed path's single segment
        buf.toSeq.groupBy(_.tbl).foreach { case (_, rs) =>
          ChangefeedLog.writeSegmentAs(dir, rs, segmentId, tagTbl = true)
        }
      else ChangefeedLog.writeSegmentAs(dir, buf.toSeq, segmentId)
    }
    ChangefeedCommitMessage(buf.size.toLong)
  }
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

case class ChangefeedCommitMessage(rows: Long) extends WriterCommitMessage

/** One retained segment file, filtered to (startUs, endUs].
  * `tblKey` carries a table-routed segment's tag so the partition can
  * answer HasPartitionKey when the scan reports KeyGroupedPartitioning
  * over tbl (ignored — Unknown report — for untagged layouts). */
case class ChangefeedPartition(file: String, startUs: Long, endUs: Long,
    tblKey: Option[Option[String]] = None)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](
      tblKey.flatten.map(UTF8String.fromString).orNull))
}

/** Complete-pushdown aggregate result, precomputed at PLANNING time
  * from the segment listing (None = NULL on an empty log). */
case class ChangefeedAggPartition(values: Array[Option[Long]])
  extends InputPartition

case class ChangefeedAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangefeedAggPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val has = !emitted; emitted = true; has }
      override def get(): InternalRow =
        new GenericInternalRow(p.values.map(_.map(Long.box).orNull): Array[Any])
      override def close(): Unit = ()
    }
  }
}

case class ChangefeedReaderFactory(
    fieldNames: Array[String] = ChangefeedDataSource.schema.fieldNames)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangefeedPartition]
    // pruned projection: only the requested fields are materialized; the
    // text fields are UTF8String slices of the segment's bytes, so an
    // unread value or key is neither unescaped nor copied
    val extract: Array[ChangefeedLog.SegmentReader => Any] = fieldNames.map {
      case "sort_us" => (r: ChangefeedLog.SegmentReader) => r.sortUs
      case "tbl" => (r: ChangefeedLog.SegmentReader) => r.tbl
      case "key" => (r: ChangefeedLog.SegmentReader) => r.key
      case "value" => (r: ChangefeedLog.SegmentReader) => r.value
      case other => throw new IllegalArgumentException(
        s"graft-changefeed has no column '$other'")
    }
    new PartitionReader[InternalRow] {
      private val r = ChangefeedLog.openSegment(java.nio.file.Paths.get(p.file))
      override def next(): Boolean = {
        var has = r.next()
        while (has && (r.sortUs <= p.startUs || r.sortUs > p.endUs)) has = r.next()
        has
      }
      override def get(): InternalRow =
        new GenericInternalRow(extract.map(f => f(r)))
      override def close(): Unit = ()
    }
  }
}
