package graft.connector

import graft.store.StoreSnapshot
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming source (re-expression of LoghubSource,
  * LoghubSource.scala:40-244, on DSv2):
  *
  *  - admission control via `SupportsAdmissionControl` — the record
  *    budget (`maxoffsetspertrigger`, default 65536) is applied with
  *    exact per-shard counts instead of the reference's service-side
  *    histogram approximation (O4, LoghubOffsetReader.scala:155-220);
  *  - new shards appear mid-stream at earliest (O7,
  *    LoghubSource.scala:140-153);
  *  - read-only (split-parent) shards are scanned until drained, then
  *    planned as empty slices at no cost (O8);
  *  - offsets are exact ordinals, so replayed batches are byte-identical
  *    (the reference papers over second-granularity cursors, §7.3);
  *  - offset monotonicity is asserted (O9, ShardUtils.scala:6-22).
  */
class LogMicroBatchStream(schema: StructType, opts: LogServiceOptions)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val store = opts.newStore
  private def snapshot() = store.snapshot(opts.project, opts.store)
  // Trigger.AvailableNow: freeze the target end offsets at query start so
  // the run drains exactly to that point, still paced by the read limit.
  private var availableNowTarget: Option[Map[Int, Long]] = None
  private def shardEnds(snap: => StoreSnapshot): Map[Int, Long] =
    availableNowTarget.getOrElse(snap.ends)

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = Some(snapshot().ends)
  }

  override def initialOffset(): Offset = {
    val snap = snapshot()
    LogServiceOffset(opts.project, opts.store,
      OffsetRanges.resolve(snap, opts, opts.startingOffsets, shardEnds(snap)))
  }

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(opts.maxOffsetsPerTrigger)

  /** Per-trigger re-read of the store's config.json (O12 dynamic config):
    * a live `maxoffsetspertrigger` override takes effect on the next
    * micro-batch without restarting the query. */
  private def liveBudgetOverride(): Option[Long] =
    store.readSourceConfig(opts.project, opts.store)
      .get("maxoffsetspertrigger").flatMap(v => scala.util.Try(v.toLong).toOption)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** Budget split: each shard may advance by at most ceil(budget/#shards)
    * records this trigger — mirrors the reference's per-shard split of
    * maxOffsetsPerTrigger, with exact arithmetic (no Long overflow for
    * Long.MaxValue budgets, cf. SPARK-26718 regression test,
    * LoghubMicroBatchSourceSuite.scala:276-314). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = start.asInstanceOf[LogServiceOffset]
    val ends = shardEnds(snapshot())
    val budget: Long = liveBudgetOverride().getOrElse(limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => Long.MaxValue
    })
    val shardIds = ends.keys.toSeq.sorted
    val perShard = math.max(1L, budget / math.max(1, shardIds.size))
    val next = shardIds.map { s =>
      val from = startOff.shardOrdinals.getOrElse(s, 0L) // new shard → earliest
      val end = ends(s)
      val capped = if (end - from <= perShard) end
        else from + perShard // perShard > 0; no overflow: from + budget/shards
      s -> capped
    }.toMap
    LogServiceOffset(opts.project, opts.store, next)
  }

  /** One snapshot per planned batch (none for an empty one) gives every
    * partition its segment list. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogServiceOffset]
    val e = end.asInstanceOf[LogServiceOffset]
    lazy val snap = snapshot()
    e.shardOrdinals.toSeq.sortBy(_._1).flatMap { case (shard, until) =>
      val from = s.shardOrdinals.getOrElse(shard, 0L)
      require(until >= from,
        s"offset rollback on shard $shard: $until < $from") // O9 guard
      if (until > from)
        Some(LogInputPartition(opts.project, opts.store, shard, from, until,
          opts.root, segments = Some(snap.shard(shard).clip(from, until))): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(schema, opts.appendSequenceNumber)

  override def deserializeOffset(json: String): Offset = LogServiceOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
