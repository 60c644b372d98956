package graft.connector

import graft.store.{EmbeddedLogStore, Segment, StoreSnapshot}
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** DSv2 connector for the embedded log store, short name `graft-logstore`
  * — the Spark-4 re-expression of the reference's five read paths / four
  * write paths (SURVEY.md §2.1/§2.2): one `Table` with batch scan,
  * micro-batch stream, batch write and streaming write.
  *
  * Options (validated like Utils.validateOptions, Utils.scala:40-51):
  *   store.root   — store root directory (shared storage on a cluster)
  *   store.project / store.name
  *   startingoffsets: earliest | latest | {"proj#store":{"0":n}}   (default earliest for batch)
  *   endingoffsets:   latest | {...}                                (batch only)
  *   maxoffsetspertrigger: record budget per micro-batch (default 65536,
  *                         LoghubSource.scala:50-51)
  *   appendsequencenumber: true|false
  */
class LogServiceTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-logstore"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RowConverters.DefaultSchema

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogServiceTable(schema, LogServiceOptions(properties.asScala.toMap))
}

case class LogServiceOptions(all: Map[String, String]) {
  private val norm = all.map { case (k, v) => k.toLowerCase -> v }
  private def required(k: String): String = norm.getOrElse(k.toLowerCase,
    throw new IllegalArgumentException(s"Missing required option '$k'"))
  val root: String = required("store.root")
  val project: String = required("store.project")
  val store: String = required("store.name")
  val startingOffsets: String = norm.getOrElse("startingoffsets", "earliest")
  val endingOffsets: String = norm.getOrElse("endingoffsets", "latest")
  val maxOffsetsPerTrigger: Long =
    norm.getOrElse("maxoffsetspertrigger", "65536").toLong
  val appendSequenceNumber: Boolean =
    norm.getOrElse("appendsequencenumber", "false").toBoolean
  /** Bounded time-range scan [starttime, endtime) in unix seconds —
    * the S8 LoghubBatchRDD surface (LoghubBatchRDD.scala:30-208). */
  val startTime: Option[Int] = norm.get("starttime").map(_.toInt)
  val endTime: Option[Int] = norm.get("endtime").map(_.toInt)
  /** Slices per shard for bounded scans (reference `parallelismInShard`,
    * 1..5 — LoghubBatchRDD.scala:40-41; ours is uncapped). Slices are
    * units of work: the plan packs them into at most leaf-parallelism
    * partitions, so more slices balance the tasks, not multiply them. */
  val sliceShard: Int = math.max(1, norm.getOrElse("store.sliceshard", "1").toInt)
  /** Writer: route each row to shard hash(column) % writableShards — the
    * reference's hash-key routing (K6, RDDLoghubWriter.scala:27-78). */
  val routingColumn: Option[String] = norm.get("routing.column")
  /** Batch-only snapshot read pinned at a manifest version (Delta-style
    * time travel; see EmbeddedLogStore.snapshot). */
  val snapshotVersion: Option[Long] = norm.get("store.snapshotversion").map(_.toLong)
  /** Sink-side auto-OPTIMIZE: once any shard holds this many segments
    * smaller than `store.autocompact.target` records, the streaming
    * epoch commit runs segment compaction (best-effort — a maintenance
    * failure never fails the epoch). 0 (default) = off. */
  val autoCompactSegments: Int =
    norm.getOrElse("store.autocompact.segments", "0").toInt
  val autoCompactTarget: Long =
    norm.getOrElse("store.autocompact.target", (1L << 20).toString).toLong
  def newStore: EmbeddedLogStore = new EmbeddedLogStore(root)
}

/** @param acceptAnySchema the options/format path writes arbitrary
  *   row shapes (routing metadata columns beside payload columns), so
  *   it advertises ACCEPT_ANY_SCHEMA; a catalog table with a DECLARED
  *   schema must NOT — with the capability set, SQL `INSERT INTO ...
  *   VALUES` skips by-name alignment and hands the writer the VALUES
  *   relation's synthetic col1/col2 names, silently mis-keying every
  *   record's contents. Strict alignment is exactly what a declared
  *   schema is for. */
class LogServiceTable(tableSchema: StructType, opts: LogServiceOptions,
    acceptAnySchema: Boolean = true)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"${opts.project}#${opts.store}"
  override def schema(): StructType = tableSchema
  private[connector] def options: LogServiceOptions = opts
  override def capabilities(): util.Set[TableCapability] = (Set(
    TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
    TableCapability.CONTINUOUS_READ, TableCapability.BATCH_WRITE,
    TableCapability.STREAMING_WRITE) ++
    (if (acceptAnySchema) Set(TableCapability.ACCEPT_ANY_SCHEMA)
     else Set.empty)).asJava

  // per-operation options (spark.read.option(...).table(...) on a
  // catalog identifier) overlay the table-level options — the format
  // path passes the same map twice, which the merge absorbs
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogScanBuilder(tableSchema,
      LogServiceOptions(opts.all ++ options.asScala.toMap))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LogWriteBuilder(info,
      LogServiceOptions(opts.all ++ info.options().asScala.toMap))
}

/** Column pruning reaches the deserializer: only requested fields are
  * converted (the reference prunes only via user schema,
  * LoghubSourceRDD.scala:178-219 — here Catalyst's pruning flows through
  * SupportsPushDownRequiredColumns, SURVEY.md §2.4 T1). Time predicates
  * on `__time__` push down to segment-skipping cursor ranges — the
  * reference's one missing pushdown (T6, SURVEY.md §2.4); pushed filters
  * stay in Spark's post-scan filter for sub-second exactness, so the
  * pushdown only ever *removes I/O*, never changes semantics. */
class LogScanBuilder(fullSchema: StructType, opts: LogServiceOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  private var prunedSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var timeRange: Option[(Int, Int)] = None
  private var limit: Option[Int] = None
  // pushed stat aggregates, one char per output column:
  // 'c' = COUNT(*), 'n' = MIN(__time__), 'x' = MAX(__time__)
  private var statCols: String = ""

  /** COUNT(*) / MIN(__time__) / MAX(__time__) with no grouping, no
    * residual filters, and an unbounded full-store scan are answered
    * from manifest statistics alone — segment record counts and
    * [minTime, maxTime] bounds are exact, so the pushdown reads ZERO
    * data (the trick parquet metadata-only queries use, but O(manifest)
    * instead of O(footers)). Anything narrower (offsets, time range,
    * limit, filters; snapshot is fine) refuses and scans normally.
    *
    * MIN/MAX only push when the declared `__time__` type can be
    * reproduced exactly from the manifest's epoch-second bounds:
    * TimestampType (seconds → µs) or an integral type (raw seconds).
    * With the default no-user-schema load() `__time__` is a STRING and
    * the unpushed result is the lexicographic min of stringified
    * timestamps — a different value; the pushdown must refuse rather
    * than silently change the answer. */
  private val timeType: Option[org.apache.spark.sql.types.DataType] =
    fullSchema.fields.find(_.name == RowConverters.Time).map(_.dataType)
  private val timeStatOk: Boolean = timeType.exists {
    case org.apache.spark.sql.types.TimestampType | LongType |
         org.apache.spark.sql.types.IntegerType => true
    case _ => false
  }
  private def statKind(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc): Option[Char] = e match {
    case _: CountStar => Some('c')
    case m: Min => m.column match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
        if timeStatOk && f.fieldNames.sameElements(Array(RowConverters.Time)) => Some('n')
      case _ => None
    }
    case m: Max => m.column match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
        if timeStatOk && f.fieldNames.sameElements(Array(RowConverters.Time)) => Some('x')
      case _ => None
    }
    case _ => None
  }

  private def canPushStats(agg: Aggregation): Boolean =
    timeRange.isEmpty && limit.isEmpty && pushed.isEmpty &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(e => statKind(e).isDefined) &&
      opts.startingOffsets == "earliest" && opts.endingOffsets == "latest" &&
      opts.startTime.isEmpty && opts.endTime.isEmpty

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPushStats(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!canPushStats(agg)) return false
    statCols = agg.aggregateExpressions.flatMap(statKind).mkString
    true
  }

  /** LIMIT n caps each partition's ordinal range to its first n records
    * (partial pushdown: Spark's own limit still runs above). Only safe
    * when no residual time filter could exclude rows inside the cap —
    * combined with a time range the cap is skipped at plan time. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve declared field order and metadata handling
    val names = requiredSchema.fieldNames.toSet
    val kept = fullSchema.fields.filter(f => names.contains(f.name))
    prunedSchema = StructType(if (kept.isEmpty) Array(fullSchema.fields.head) else kept)
  }

  /** (floor epoch seconds, has sub-second fraction). Record times are
    * integer seconds, so each comparison op has an exact integer bound:
    * GT → floor+1; GTE → ceil; LT → exclusive ceil; LTE → floor+1. */
  private def toEpochS(v: Any): Option[(Long, Boolean)] = v match {
    case t: java.sql.Timestamp =>
      Some((Math.floorDiv(t.getTime, 1000L), Math.floorMod(t.getTime, 1000L) != 0))
    case i: java.time.Instant => Some((i.getEpochSecond, i.getNano != 0))
    case n: java.lang.Number => Some((n.longValue(), false))
    case _ => None
  }

  /** String-typed `__time__` bound → conservative epoch second. A STRING
    * `__time__` column renders `new java.sql.Timestamp(time*1000)
    * .toString` (RowConverters), which for the store's integer-second
    * records in the Int epoch range (4-digit years) is the fixed-width
    * `yyyy-MM-dd HH:mm:ss.0` — STRICTLY increasing in time as a string.
    * So each string comparison passes an INTERVAL of record times, and
    * parsing the bound with the same calendar + JVM timezone
    * (`Timestamp.valueOf`) locates that interval's boundary to within
    * one second: whatever the fraction text and the `.0`-suffix
    * comparison quirks resolve to, the passing set is always inside
    * [s, +inf) for GT/GTE and (-inf, s+1) for LT/LTE/EQ. The pushdown
    * keeps that superset range — Spark re-evaluates the original string
    * filter post-scan, so over-keeping by ≤1s can't change results,
    * only segment skipping. Unparseable bounds (raw epoch digits,
    * arbitrary strings) refuse and scan. */
  private def strBoundS(v: Any): Option[Long] = v match {
    case s: String if timeType.contains(StringType) =>
      try Some(Math.floorDiv(java.sql.Timestamp.valueOf(s).getTime, 1000L))
      catch { case _: IllegalArgumentException => None }
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    import org.apache.spark.sql.sources._
    var lo = Int.MinValue.toLong
    var hi = Int.MaxValue.toLong // exclusive
    def ceilOf(s: Long, frac: Boolean): Long = if (frac) s + 1 else s
    val accepted = filters.filter {
      case GreaterThan(RowConverters.Time, v) =>
        toEpochS(v).exists { case (s, _) => lo = math.max(lo, s + 1); true } ||
          strBoundS(v).exists { s => lo = math.max(lo, s); true }
      case GreaterThanOrEqual(RowConverters.Time, v) =>
        toEpochS(v).exists { case (s, f) => lo = math.max(lo, ceilOf(s, f)); true } ||
          strBoundS(v).exists { s => lo = math.max(lo, s); true }
      case LessThan(RowConverters.Time, v) =>
        toEpochS(v).exists { case (s, f) => hi = math.min(hi, ceilOf(s, f)); true } ||
          strBoundS(v).exists { s => hi = math.min(hi, s + 1); true }
      case LessThanOrEqual(RowConverters.Time, v) =>
        toEpochS(v).exists { case (s, _) => hi = math.min(hi, s + 1); true } ||
          strBoundS(v).exists { s => hi = math.min(hi, s + 1); true }
      case EqualTo(RowConverters.Time, v) =>
        toEpochS(v).exists { case (s, f) =>
          lo = math.max(lo, ceilOf(s, f)); hi = math.min(hi, s + 1); true } ||
          strBoundS(v).exists { s =>
            lo = math.max(lo, s); hi = math.min(hi, s + 1); true }
      case _ => false
    }
    pushed = accepted
    if (accepted.nonEmpty && (lo > Int.MinValue || hi < Int.MaxValue))
      timeRange = Some((
        math.max(0L, lo).min(Int.MaxValue).toInt,
        math.max(0L, hi).min(Int.MaxValue).toInt))
    filters // all filters re-evaluated by Spark post-scan (conservative)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    if (statCols.nonEmpty)
      new LogStatScan(opts, statCols,
        timeType.getOrElse(org.apache.spark.sql.types.TimestampType))
    else new LogScan(prunedSchema, opts, timeRange, limit)
}

/** Completely-pushed stat aggregates: one partition, one row, zero data
  * read — COUNT(*) is the sum of committed segment record counts from
  * the manifest fold (snapshot-pinned when `store.snapshotversion` is
  * set; the same invariant the ordinal cursor model depends on), and
  * MIN/MAX(__time__) fold the segments' exact [minTime, maxTime]
  * bounds (null on an empty store, like any aggregate over no rows). */
class LogStatScan(opts: LogServiceOptions, statCols: String,
    timeType: org.apache.spark.sql.types.DataType)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(statCols.zipWithIndex.map {
      case ('c', i) => StructField(s"count_$i", LongType, nullable = false)
      // min/max carry the DECLARED __time__ type: the builder only
      // pushes for types the epoch-second bounds reproduce exactly
      case (_, i) => StructField(s"time_$i", timeType, nullable = true)
    })
  override def description(): String =
    s"graft-logstore stats-from-manifest($statCols) ${opts.project}#${opts.store}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // ONE fold (pinned when `store.snapshotversion` is set) gives every
    // shard's live segments: mixing per-shard folds could straddle a
    // concurrent expiry and misalign bases against listings
    val snap = opts.newStore.snapshot(opts.project, opts.store, opts.snapshotVersion)
    var total = 0L
    var minT = Long.MaxValue
    var maxT = Long.MinValue
    snap.logs.values.flatMap(_.segments).foreach { seg =>
      if (seg.count > 0) {
        total += seg.count
        if (seg.minTime < minT) minT = seg.minTime
        if (seg.maxTime > maxT) maxT = seg.maxTime
      }
    }
    Array(LogStatPartition(statCols, total,
      if (total == 0) None else Some(minT), if (total == 0) None else Some(maxT)))
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val integral = timeType match {
      case org.apache.spark.sql.types.IntegerType => 1
      case LongType => 2
      case _ => 0 // TimestampType: seconds → microseconds
    }
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val sp = p.asInstanceOf[LogStatPartition]
        def emit(t: Long): Any = integral match {
          case 1 => t.toInt
          case 2 => t
          case _ => t * 1000000L // s → µs
        }
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow = InternalRow.fromSeq(sp.statCols.map {
            case 'c' => sp.total: Any
            case 'n' => sp.minT.map(emit).orNull
            case _ => sp.maxT.map(emit).orNull
          })
          override def close(): Unit = ()
        }
      }
    }
  }
}

case class LogStatPartition(statCols: String, total: Long,
    minT: Option[Long], maxT: Option[Long]) extends InputPartition

class LogScan(schema: StructType, opts: LogServiceOptions,
    pushedTimeRange: Option[(Int, Int)] = None,
    pushedLimit: Option[Int] = None) extends Scan
    with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-logstore ${opts.project}#${opts.store} timeRange=$pushedTimeRange limit=$pushedLimit"

  /** The scan's one manifest fold, taken on first use and shared by
    * statistics, offset resolution and partition planning; pinned at
    * `store.snapshotversion` when that is set. */
  private lazy val snapshot: StoreSnapshot =
    opts.newStore.snapshot(opts.project, opts.store, opts.snapshotVersion)

  /** Exact row count from segment metadata (no data reads) — lets
    * Catalyst/AQE treat small stores as broadcast-able instead of
    * assuming the default size. Bytes are estimated at a conservative
    * 64 per record per projected column. */
  override def estimateStatistics(): Statistics = {
    // LIVE rows: end minus the retention base (expired records are gone)
    val rows = snapshot.shards.map(s => snapshot.shard(s.id))
      .map(log => log.end - log.start).sum
    val capped = pushedLimit.map(n => math.min(rows, n.toLong)).getOrElse(rows)
    val bytes = capped * 64L * math.max(1, schema.fields.length)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(capped)
    }
  }

  override def toBatch: Batch =
    new LogBatch(schema, opts, () => snapshot, pushedTimeRange, pushedLimit)
  override def toMicroBatchStream(checkpointLocation: String) = {
    require(opts.snapshotVersion.isEmpty,
      "store.snapshotversion is a batch-only option: a stream reads the live log")
    new LogMicroBatchStream(schema, opts)
  }
  override def toContinuousStream(checkpointLocation: String) = {
    require(opts.snapshotVersion.isEmpty,
      "store.snapshotversion is a batch-only option: a stream reads the live log")
    new LogContinuousStream(schema, opts)
  }
}

/** One shard slice: the ordinals [from, until) of one shard, optionally
  * cut `store.sliceshard` ways and bounded by a pushed or option-supplied
  * time range. Slices are the unit of work; a plan packs them into at
  * most leaf-parallelism partitions ([[LogPackedPartition.pack]]).
  *
  * `segments` is the slice's (file, base ordinal) list, clipped to
  * [from, until) from the planning snapshot: the reader opens those files
  * directly and takes its `__sequence_number__` bases from the same list,
  * so a task does no manifest fold of its own. If a racing compaction or
  * expiry deleted a listed file, the reader folds again and resumes at
  * its next unread ordinal. A partition built without a list (None)
  * resolves one from a fresh snapshot when its reader opens. */
case class LogInputPartition(project: String, store: String, shard: Int,
    from: Long, until: Long, root: String,
    timeRange: Option[(Int, Int)] = None,
    segments: Option[Seq[Segment]] = None) extends InputPartition {
  /** Records the reader will read: the clipped segments that survive
    * the time prune (the whole range when no list is carried). */
  def records: Long = segments.fold(until - from) { segs =>
    segs.iterator.filter(_.overlaps(timeRange))
      .map(seg => math.min(seg.end, until) - math.max(seg.base, from)).sum
  }
}

/** Slices one task reads back to back, ordered by (shard, from). */
case class LogPackedPartition(slices: Seq[LogInputPartition]) extends InputPartition

object LogPackedPartition {
  /** Slices in min(#slices, P) bins, where P is the planning session's
    * `spark.sql.leafNodeDefaultParallelism` (default: the context's
    * default parallelism), the conf Spark's own file scans use: a task
    * per core rather than per shard, since at this data size a task's
    * scheduling costs more than its decode. Greedy longest-first packing
    * by [[LogInputPartition.records]] balances the bins; ties go to the
    * bin with fewer slices, so a bin holds one slice whenever the slices
    * fit. With no session (a plan made outside Spark) P is #slices. */
  def pack(slices: Seq[LogInputPartition]): Array[InputPartition] = {
    val parallelism = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(slices.size)(s => s.conf.getOption("spark.sql.leafNodeDefaultParallelism")
        .fold(s.sparkContext.defaultParallelism)(_.toInt))
    val n = math.min(slices.size, parallelism)
    val bins = Array.fill(n)(List.empty[LogInputPartition])
    val loads = new Array[Long](n)
    slices.map(s => (s, s.records))
      .sortBy { case (s, w) => (-w, s.shard, s.from) }
      .foreach { case (s, w) =>
        val i = loads.indices.minBy(i => (loads(i), bins(i).size))
        bins(i) ::= s
        loads(i) += w
      }
    bins.map(b => LogPackedPartition(b.sortBy(s => (s.shard, s.from))): InputPartition)
  }
}

class LogBatch(schema: StructType, opts: LogServiceOptions,
    snapshot: () => StoreSnapshot,
    pushedTimeRange: Option[(Int, Int)] = None,
    pushedLimit: Option[Int] = None) extends Batch {

  /** Intersect option-level [starttime, endtime) with pushed bounds. */
  private def effectiveTimeRange: Option[(Int, Int)] = {
    val optRange = (opts.startTime, opts.endTime) match {
      case (None, None) => None
      case (lo, hi) => Some((lo.getOrElse(0), hi.getOrElse(Int.MaxValue)))
    }
    (optRange, pushedTimeRange) match {
      case (Some((a, b)), Some((c, d))) => Some((math.max(a, c), math.min(b, d)))
      case (r @ Some(_), None) => r
      case (None, r) => r
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // reference O2 (LoghubSourceProvider.scala:216-248): a bounded batch
    // cannot start at latest nor end at earliest
    if (opts.startingOffsets.trim.equalsIgnoreCase("latest"))
      throw new IllegalArgumentException("starting offsets can't be 'latest' for batch queries")
    if (opts.endingOffsets.trim.equalsIgnoreCase("earliest"))
      throw new IllegalArgumentException("ending offsets can't be 'earliest'")
    val snap = snapshot()
    val startOrds = OffsetRanges.resolve(snap, opts, opts.startingOffsets, snap.ends)
    val endOrds = OffsetRanges.resolve(snap, opts, opts.endingOffsets, snap.ends)
    val tr = effectiveTimeRange
    // with a residual time filter the first-n ordinals may not be the
    // first n MATCHING rows — the cap applies only to unfiltered scans
    val cap = if (tr.isEmpty) pushedLimit else None
    LogPackedPartition.pack(snap.shards.flatMap { s =>
      val from = startOrds.getOrElse(s.id, 0L)
      // a pinned snapshot ends at the shard's ordinal prefix as of its
      // version (ordinals are append-stable, so that prefix IS the
      // point-in-time content); no end reads past the plan's snapshot
      val until0 = math.min(endOrds.getOrElse(s.id, 0L), snap.shard(s.id).end)
      val until = cap.map(n => math.min(until0, from + n)).getOrElse(until0)
      if (until <= from) Seq.empty
      else {
        val slices = math.min(opts.sliceShard.toLong, until - from).toInt
        (0 until slices).map { i =>
          val lo = from + (until - from) * i / slices
          val hi = from + (until - from) * (i + 1) / slices
          LogInputPartition(opts.project, opts.store, s.id, lo, hi,
            opts.root, tr, Some(snap.shard(s.id).clip(lo, hi)))
        }
      }
    })
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(schema, opts.appendSequenceNumber)
}

object OffsetRanges {
  /** earliest | latest | offset-json → per-shard ordinals, for batch
    * bounds and both streams' initial offsets. `earliest` is each
    * shard's retention base in `snap`; `latest` is `ends` (the
    * snapshot's ends, or a micro-batch's frozen AvailableNow target).
    * The JSON is parsed as given (project and store names are
    * case-sensitive) and must name this table. */
  def resolve(snap: StoreSnapshot, opts: LogServiceOptions, spec: String,
      ends: Map[Int, Long]): Map[Int, Long] =
    spec.trim.toLowerCase match {
      case "earliest" => snap.starts
      case "latest" => ends
      case _ =>
        val o = LogServiceOffset.parse(spec)
        require(o.project == opts.project && o.store == opts.store,
          s"offset json for ${o.project}#${o.store}, expected ${opts.project}#${opts.store}")
        // sentinels per LoghubOffsetRangeLimit: -1 latest, -2 earliest
        o.shardOrdinals.map {
          case (s, -1L) => s -> ends.getOrElse(s, snap.shard(s).end)
          case (s, -2L) => s -> snap.shard(s).start
          case (s, n) => s -> n
        }
    }
}

class LogReaderFactory(schema: StructType, appendSeq: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new LogPackedReader(schema, p.asInstanceOf[LogPackedPartition], appendSeq)
}

/** A packed partition's slices read back to back, one open at a time;
  * each slice keeps its own segment list, heal path, time range, LIMIT
  * cap and sequence-number bases. */
class LogPackedReader(schema: StructType, p: LogPackedPartition,
    appendSeq: Boolean) extends PartitionReader[InternalRow] {
  private val pending = p.slices.iterator
  private var current: LogPartitionReader = _

  override def next(): Boolean = {
    while (current == null || !current.next()) {
      close()
      if (!pending.hasNext) return false
      current = new LogPartitionReader(schema, pending.next(), appendSeq)
    }
    true
  }
  override def get(): InternalRow = current.get()
  override def close(): Unit = if (current != null) { current.close(); current = null }
}

class LogPartitionReader(schema: StructType, p: LogInputPartition,
    appendSeq: Boolean) extends PartitionReader[InternalRow] {
  private val store = new EmbeddedLogStore(p.root)
  private val readers = schema.fields.map(f =>
    RowConverters.makeReader(f.dataType, f.nullable))
  private val it = store.readSegments(p.project, p.store, p.shard,
    p.segments.getOrElse(store.snapshot(p.project, p.store).shard(p.shard).segments),
    p.from, p.until, p.timeRange)
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val (ord, rec) = it.next()
    val seq = if (appendSeq) RowConverters.sequenceNumber(it.segmentBase, ord) else null
    current = RowConverters.recordToRow(schema, readers, p.project, p.store,
      p.shard, ord, rec, seq)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = it.close()
}
