package graft.connector

import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{StructType, TimestampType}
import scala.collection.mutable

/** Write path (re-expression of K1-K6, SURVEY.md §2.2): rows are
  * flattened to string key/value contents (Utils.toConverter semantics,
  * Utils.scala:53-99) and written as immutable per-task segments through
  * the store's two-phase commit: tasks STAGE data files (invisible to
  * readers), the driver's `commit()` publishes them in ONE manifest —
  * so a job's output appears atomically, speculative/failed tasks never
  * leak partial data, and concurrent jobs writing the same store can't
  * interleave ordinals.
  *
  *  - Batch write: segment name `b<jobId>-p<partition>` — a task retry
  *    re-stages the same name, replacing its own file.
  *  - Streaming write: segment name `e<epochId>-p<partition>` — a
  *    replayed epoch re-stages and commits idempotently (the manifest
  *    skip), which is exactly the reference sink's skip-committed-batch
  *    idempotence (LoghubSink.scala:31-38) without a separate ledger.
  *  - Shard routing: `__shard__` column if present, else
  *    hash(partitionId) round-robin over writable shards (the writer-API
  *    hash-key routing of K6 maps to repartitioning before the write).
  *  - A `__time__` TimestampType/epoch column feeds the record time;
  *    otherwise wall-free deterministic 0 (tests always set it).
  */
/** SupportsStreamingUpdateAsAppend: Update-mode aggregation rows are
  * appended like any record (the log keeps the update history; latest
  * row per key is the current value) — same choice as the Kafka sink. */
class LogWriteBuilder(info: LogicalWriteInfo, opts: LogServiceOptions)
    extends WriteBuilder
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  override def build(): Write = new LogWrite(info.schema(), opts, info.queryId())
}

class LogWrite(schema: StructType, opts: LogServiceOptions, queryId: String)
    extends Write {
  override def toBatch: BatchWrite = new LogBatchWrite(schema, opts, queryId)
  override def toStreaming: StreamingWrite = new LogStreamingWrite(schema, opts)
}

class LogBatchWrite(schema: StructType, opts: LogServiceOptions,
    queryId: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LogWriterFactory(schema, opts, s"b$queryId")
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    opts.newStore.commitSegments(opts.project, opts.store,
      messages.toSeq.flatMap(_.asInstanceOf[LogCommitMessage].staged))
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    opts.newStore.discardStaged(opts.project, opts.store,
      messages.toSeq.filter(_ != null)
        .flatMap(_.asInstanceOf[LogCommitMessage].staged))
}

class LogStreamingWrite(schema: StructType, opts: LogServiceOptions)
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LogStreamingWriterFactory(schema, opts)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val store = opts.newStore
    store.commitSegments(opts.project, opts.store,
      messages.toSeq.flatMap(_.asInstanceOf[LogCommitMessage].staged))
    // auto-OPTIMIZE: one segment lands per (epoch, task), so a
    // long-lived stream accumulates small files without bound unless
    // the sink folds them. Threshold-gated so steady state isn't a
    // rewrite per epoch; best-effort — the epoch's data is already
    // durably committed, so a maintenance failure must not fail it.
    if (opts.autoCompactSegments > 0) {
      try {
        val snap = store.snapshot(opts.project, opts.store)
        val needs = snap.shards.exists { sh =>
          snap.shard(sh.id).segments
            .count(_.count < opts.autoCompactTarget) >= opts.autoCompactSegments
        }
        if (needs)
          store.compactSegments(opts.project, opts.store, opts.autoCompactTarget)
      } catch {
        case scala.util.control.NonFatal(t) =>
          System.err.println(s"[graft-logstore] auto-compaction after " +
            s"epoch $epochId failed (data is committed): ${t.getMessage}")
      }
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    opts.newStore.discardStaged(opts.project, opts.store,
      messages.toSeq.filter(_ != null)
        .flatMap(_.asInstanceOf[LogCommitMessage].staged))
}

case class LogCommitMessage(staged: Seq[graft.store.StagedSegment])
  extends WriterCommitMessage

class LogWriterFactory(schema: StructType, opts: LogServiceOptions,
    prefix: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LogDataWriter(schema, opts, s"$prefix-p$partitionId")
}

class LogStreamingWriterFactory(schema: StructType, opts: LogServiceOptions)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LogDataWriter(schema, opts, s"e$epochId-p$partitionId")
}

class LogDataWriter(schema: StructType, opts: LogServiceOptions,
    segmentName: String) extends DataWriter[InternalRow] {

  private val store = opts.newStore
  private val fields = schema.fields
  private val shardIdx = schema.fieldNames.indexOf(RowConverters.Shard)
  private val timeIdx = schema.fieldNames.indexOf(RowConverters.Time)
  private val topicIdx = schema.fieldNames.indexOf(RowConverters.Topic)
  private val sourceIdx = schema.fieldNames.indexOf(RowConverters.Source)
  private val writableShards =
    store.listShards(opts.project, opts.store).filterNot(_.readOnly).map(_.id)
  require(writableShards.nonEmpty, s"no writable shards in ${opts.project}#${opts.store}")
  private val routingIdx = opts.routingColumn
    .map { c =>
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"routing.column '$c' not in write schema")
      i
    }
  private val pending = mutable.Map[Int, mutable.Buffer[LogRecord]]()
  private val writableSet = writableShards.toSet
  private val partShard = // stable default route for this task's segment
    writableShards(math.abs(segmentName.hashCode) % writableShards.size)

  override def write(row: InternalRow): Unit = {
    val contents = mutable.Map[String, String]()
    var time = 0
    var topic = ""; var source = ""
    var shard = routingIdx match {
      case Some(ri) if !row.isNullAt(ri) =>
        val key = row.get(ri, fields(ri).dataType).toString
        writableShards(math.floorMod(key.hashCode, writableShards.size))
      case _ => partShard
    }
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (!row.isNullAt(i)) {
        f.name match {
          case RowConverters.Shard =>
            // an out-of-range shard would create an orphan directory no
            // reader ever lists — silent data loss; fail the task instead
            shard = row.get(i, f.dataType).toString.toInt
            require(writableSet.contains(shard),
              s"__shard__ $shard is not a writable shard of " +
                s"${opts.project}#${opts.store} " +
                s"(writable: ${writableShards.sorted.mkString(",")})")
          case RowConverters.Time =>
            val v = row.get(i, f.dataType).toString
            time = f.dataType match {
              case TimestampType => (v.toLong / 1000000L).toInt // micros → s
              case _ => v.toDouble.toInt
            }
          case RowConverters.Topic => topic = row.get(i, f.dataType).toString
          case RowConverters.Source => source = row.get(i, f.dataType).toString
          case name =>
            contents(name) = RowConverters.valueToString(f.dataType, row.get(i, f.dataType))
        }
      }
      i += 1
    }
    pending.getOrElseUpdate(shard, mutable.Buffer()) +=
      LogRecord(time, topic, source, Map.empty, contents.toMap)
  }

  override def commit(): WriterCommitMessage =
    LogCommitMessage(store.stageSegments(opts.project, opts.store,
      pending.toSeq.map { case (shard, recs) => (shard, segmentName, recs.toSeq) }))

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
