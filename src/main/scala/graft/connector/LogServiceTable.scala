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
  * decoded (the reference prunes only via user schema,
  * LoghubSourceRDD.scala:178-219 — here Catalyst's pruning flows through
  * SupportsPushDownRequiredColumns, SURVEY.md §2.4 T1). Time predicates
  * on `__time__` push down to a [lo, hi) range of record seconds — the
  * reference's one missing pushdown (T6, SURVEY.md §2.4) — which skips
  * whole segments by their time bounds and drops the records outside it
  * in the reader. Record times are whole seconds, so for a TIMESTAMP,
  * BIGINT or INT `__time__` compared with a timestamp or integral literal
  * that range IS the predicate: such filters (and `IsNotNull(__time__)`,
  * a record time is never null) are answered by the scan and Spark plans
  * no `Filter` for them. Every other accepted predicate (a fractional
  * literal, a STRING `__time__`) pushes a superset range and stays in
  * Spark's post-scan filter. Exact answers hold for batch scans, whose
  * partitions carry the range; a stream refuses a pushed range. */
class LogScanBuilder(fullSchema: StructType, opts: LogServiceOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  private var prunedSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var timeRange: Option[(Long, Long)] = None
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
  /** The declared `__time__` is the record's second, raw or in µs: the
    * stat pushdown and exact time-range pushdown both need this. */
  private val timeExact: Boolean = timeType.exists {
    case org.apache.spark.sql.types.TimestampType | LongType |
         org.apache.spark.sql.types.IntegerType => true
    case _ => false
  }
  private def statKind(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc): Option[Char] = e match {
    case _: CountStar => Some('c')
    case m: Min => m.column match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
        if timeExact && f.fieldNames.sameElements(Array(RowConverters.Time)) => Some('n')
      case _ => None
    }
    case m: Max => m.column match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
        if timeExact && f.fieldNames.sameElements(Array(RowConverters.Time)) => Some('x')
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
    * when no time range could exclude rows inside the cap, so a scan with
    * a pushed range refuses it (one bounded by the `starttime`/`endtime`
    * options skips the cap at plan time). */
  override def pushLimit(n: Int): Boolean = timeRange.isEmpty && {
    limit = Some(n); true
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve declared field order and metadata handling
    val names = requiredSchema.fieldNames.toSet
    val kept = fullSchema.fields.filter(f => names.contains(f.name))
    prunedSchema = StructType(if (kept.isEmpty) Array(fullSchema.fields.head) else kept)
  }

  /** A literal's position among whole seconds: (floor epoch second, has a
    * fraction, exact). Record times are integer seconds, so each
    * comparison has an integer bound: GT → floor+1; GTE → ceil;
    * LT → exclusive ceil; LTE → floor+1. The bound is the predicate
    * itself (`exact`) only for a timestamp or integral literal against a
    * TIMESTAMP, BIGINT or INT `__time__`. The fraction comes from the
    * nanos: `Timestamp.getTime` drops sub-millisecond digits. A
    * fractional literal is floored, not truncated (`< 10.5` keeps 10).
    * Seconds are clamped just outside the Int range, where every record
    * time compares the same and `s + 1` cannot overflow. */
  private def toEpochS(v: Any): Option[(Long, Boolean, Boolean)] = {
    def clamp(s: Long) = s.max(Int.MinValue - 1L).min(Int.MaxValue + 1L)
    def fractional(d: java.math.BigDecimal) = {
      val floor = d.setScale(0, java.math.RoundingMode.FLOOR)
      val s = floor.max(java.math.BigDecimal.valueOf(Int.MinValue - 1L))
        .min(java.math.BigDecimal.valueOf(Int.MaxValue + 1L)).longValue
      Some((s, d.compareTo(floor) != 0, false))
    }
    v match {
      case t: java.sql.Timestamp =>
        Some((clamp(Math.floorDiv(t.getTime, 1000L)), t.getNanos != 0, timeExact))
      case i: java.time.Instant => Some((clamp(i.getEpochSecond), i.getNano != 0, timeExact))
      case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
          _: java.lang.Byte) =>
        Some((clamp(n.asInstanceOf[Number].longValue), false, timeExact))
      case d: java.math.BigDecimal => fractional(d)
      case d: scala.math.BigDecimal => fractional(d.bigDecimal)
      case d @ (_: java.lang.Double | _: java.lang.Float)
          if java.lang.Double.isFinite(d.asInstanceOf[Number].doubleValue) =>
        fractional(new java.math.BigDecimal(d.asInstanceOf[Number].doubleValue))
      case _ => None
    }
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
    * keeps that superset range and Spark re-evaluates the original
    * string filter post-scan, so over-keeping by ≤1s can't change
    * results, only segment skipping. Unparseable bounds (raw epoch
    * digits, arbitrary strings) refuse and scan. */
  private def strBoundS(v: Any): Option[Long] = v match {
    case s: String if timeType.contains(StringType) =>
      try Some(Math.floorDiv(java.sql.Timestamp.valueOf(s).getTime, 1000L))
      catch { case _: IllegalArgumentException => None }
    case _ => None
  }

  /** The [lo, hi) range of record seconds a `__time__` predicate passes,
    * and whether that range is exactly the predicate. */
  private def rangeOf(f: Filter): Option[(Long, Long, Boolean)] = {
    import org.apache.spark.sql.sources._
    val (op, v) = f match {
      case GreaterThan(RowConverters.Time, v) => (">", v)
      case GreaterThanOrEqual(RowConverters.Time, v) => (">=", v)
      case LessThan(RowConverters.Time, v) => ("<", v)
      case LessThanOrEqual(RowConverters.Time, v) => ("<=", v)
      case EqualTo(RowConverters.Time, v) => ("=", v)
      case IsNotNull(RowConverters.Time) => return Some((Long.MinValue, Long.MaxValue, true))
      case _ => return None
    }
    toEpochS(v).map { case (s, frac, exact) =>
      val ceil = if (frac) s + 1 else s
      val (lo, hi) = op match {
        case ">" => (s + 1, Long.MaxValue)
        case ">=" => (ceil, Long.MaxValue)
        case "<" => (Long.MinValue, ceil)
        case "<=" => (Long.MinValue, s + 1)
        case _ => (ceil, s + 1)
      }
      (lo, hi, exact)
    }.orElse(strBoundS(v).map { s =>
      val (lo, hi) = op match {
        case ">" | ">=" => (s, Long.MaxValue)
        case "<" | "<=" => (Long.MinValue, s + 1)
        case _ => (s, s + 1)
      }
      (lo, hi, false)
    })
  }

  /** Accepts every `__time__` predicate [[rangeOf]] knows, intersecting
    * their ranges, and hands back as post-scan only those it does not
    * answer exactly, plus the filters it does not know. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    var lo = Long.MinValue
    var hi = Long.MaxValue // exclusive
    val ranged = filters.map(f => f -> rangeOf(f))
    ranged.foreach { case (_, r) =>
      r.foreach { case (a, b, _) => lo = math.max(lo, a); hi = math.min(hi, b) }
    }
    pushed = ranged.collect { case (f, Some(_)) => f }
    if (lo > Long.MinValue || hi < Long.MaxValue) timeRange = Some((lo, hi))
    ranged.collect { case (f, r) if !r.exists(_._3) => f }
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
    pushedTimeRange: Option[(Long, Long)] = None,
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
    requireLiveLog()
    new LogMicroBatchStream(schema, opts)
  }
  override def toContinuousStream(checkpointLocation: String) = {
    requireLiveLog()
    new LogContinuousStream(schema, opts)
  }
  /** A stream reads the whole live log. [[LogScanBuilder]] hands a pushed time
    * range's exact filters to the scan instead of to Spark, so a stream
    * that ignored one would return rows outside it. */
  private def requireLiveLog(): Unit = {
    require(opts.snapshotVersion.isEmpty,
      "store.snapshotversion is a batch-only option: a stream reads the live log")
    require(pushedTimeRange.isEmpty,
      s"a stream cannot apply the pushed __time__ range $pushedTimeRange")
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
  * its next unread ordinal. */
case class LogInputPartition(project: String, store: String, shard: Int,
    from: Long, until: Long, root: String,
    timeRange: Option[(Long, Long)],
    segments: Seq[Segment]) extends InputPartition {
  /** Records the reader will read: the clipped segments that survive
    * the time prune. */
  def records: Long = segments.iterator.filter(_.overlaps(timeRange))
    .map(seg => math.min(seg.end, until) - math.max(seg.base, from)).sum
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
    pushedTimeRange: Option[(Long, Long)] = None,
    pushedLimit: Option[Int] = None) extends Batch {

  /** Intersect option-level [starttime, endtime) with pushed bounds; a
    * missing option leaves its side unbounded. */
  private def effectiveTimeRange: Option[(Long, Long)] = {
    val optRange = (opts.startTime, opts.endTime) match {
      case (None, None) => None
      case (lo, hi) => Some((lo.fold(Long.MinValue)(_.toLong), hi.fold(Long.MaxValue)(_.toLong)))
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
            opts.root, tr, snap.shard(s.id).clip(lo, hi))
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
  private val decoder = new RowDecoder(schema, p.project, p.store, p.shard,
    appendSeq, p.timeRange)
  private val lines = store.readSegments(p.project, p.store, p.shard,
    p.segments, p.from, p.until, p.timeRange)
  private var current: InternalRow = _

  override def next(): Boolean = {
    current = null
    while (current == null && lines.advance())
      current = decoder.decode(lines.line, lines.ordinal, lines.segmentBase)
    current != null
  }
  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
