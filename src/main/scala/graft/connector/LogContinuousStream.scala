package graft.connector

import graft.store.EmbeddedLogStore
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** Continuous-processing source (re-expression of S2,
  * LoghubContinuousReader.scala:38-295): one long-running reader per
  * shard tailing the store; per-shard ordinal offsets merged into the
  * same JSON codec as the micro-batch path. Epoch-marker coordination,
  * commit log and restart all come from the engine.
  *
  * The micro-batch source remains the primary path (the reference's
  * continuous reader was 2.4-experimental); this one exists for
  * low-latency tailing where trigger scheduling dominates latency. */
class LogContinuousStream(schema: StructType, opts: LogServiceOptions)
    extends ContinuousStream {

  private val store = opts.newStore

  override def initialOffset(): Offset = {
    val snap = store.snapshot(opts.project, opts.store)
    LogServiceOffset(opts.project, opts.store,
      OffsetRanges.resolve(snap, opts, opts.startingOffsets, snap.ends))
  }

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogServiceOffset]
    store.listShards(opts.project, opts.store).map { sh =>
      LogInputPartition(opts.project, opts.store, sh.id,
        s.shardOrdinals.getOrElse(sh.id, 0L), Long.MaxValue, opts.root)
        : InputPartition
    }.toArray
  }

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    LogContinuousReaderFactory(schema, opts.appendSequenceNumber)

  /** Per-shard partition offsets → global offset (reference
    * mergeOffsets, LoghubContinuousReader.scala:77-83). */
  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset = {
    val ords = offsets.map { case o: LogShardPartitionOffset => o.shard -> o.ordinal }
    LogServiceOffset(opts.project, opts.store, ords.toMap)
  }

  override def deserializeOffset(json: String): Offset = LogServiceOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class LogContinuousReaderFactory(schema: StructType, appendSeq: Boolean)
    extends ContinuousPartitionReaderFactory {
  override def createReader(p: InputPartition): ContinuousPartitionReader[InternalRow] =
    new LogContinuousPartitionReader(schema,
      p.asInstanceOf[LogInputPartition], appendSeq)
}

case class LogShardPartitionOffset(shard: Int, ordinal: Long) extends PartitionOffset

/** Tails one shard: drains what exists, then polls for newly committed
  * segments (the reference blocks on service long-poll; we poll the
  * listing with a small backoff). */
class LogContinuousPartitionReader(schema: StructType, p: LogInputPartition,
    appendSeq: Boolean) extends ContinuousPartitionReader[InternalRow] {

  private val store = new EmbeddedLogStore(p.root)
  private val readers = schema.fields.map(f =>
    RowConverters.makeReader(f.dataType, f.nullable))
  private var ordinal = p.from
  private var it: store.SegmentReader = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    // one snapshot per poll gives both the end and the segments to read
    while (it == null || !it.hasNext) {
      val log = store.snapshot(p.project, p.store).shard(p.shard)
      if (log.end > ordinal) {
        it = store.readSegments(p.project, p.store, p.shard,
          log.clip(ordinal, log.end), ordinal, log.end, None)
      } else {
        Thread.sleep(10) // poll backoff; interrupted by epoch end/stop
      }
    }
    val (ord, rec) = it.next()
    ordinal = ord + 1
    val seq = if (appendSeq) RowConverters.sequenceNumber(it.segmentBase, ord) else null
    current = RowConverters.recordToRow(schema, readers, p.project, p.store,
      p.shard, ord, rec, seq)
    true
  }

  override def get(): InternalRow = current
  override def getOffset: PartitionOffset = LogShardPartitionOffset(p.shard, ordinal)
  override def close(): Unit = if (it != null) it.close()
}
