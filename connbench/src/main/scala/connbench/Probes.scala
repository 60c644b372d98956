package connbench

import graft.connector._
import graft.store.LogRecord
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Direct calls into the public functions of the store and connector
  * layers, each wrapped in a span, against a workload's own store once its
  * measured window is over. Every probe repeats `Reps` times and reports
  * the median. Writes go to fresh segment names after the workload's
  * correctness check, so they cannot change its answer. */
object Probes {
  val Reps = 5
  val WriteRows = 20000
  val StageSegments = 8
  val StageRows = 500
  val ConvertCap = 200000

  def run(ref: StoreRef, schemaDdl: String, t: Tracer): Map[String, Double] = {
    val store = ref.store
    val (p, n) = (ref.project, ref.name)
    val schema = StructType.fromDDL(schemaDdl)
    val narrow = StructType(schema.fields.take(1))
    val opts = ref.opts
    def med(name: String): Double = Stats.median(t.durationsMs(name))
    def reps(name: String)(body: => Unit): Double = {
      (0 until Reps).foreach(_ => t.span(name)(body)); med(name)
    }

    // ---- store ----------------------------------------------------
    val foldMs = reps("store.latest_fold") {
      store.listShards(p, n).foreach(s => store.shardEnd(p, n, s.id))
    }
    val manifests = java.nio.file.Files.list(ref.manifestDir)
    val deltaManifests = try manifests.iterator().asScala
      .count(f => f.getFileName.toString.startsWith("m-")) finally manifests.close()
    val shards = store.listShards(p, n).map(_.id)
    val total = shards.map(s => store.shardEnd(p, n, s) - store.shardStart(p, n, s)).sum
    val readMs = reps("store.read") {
      shards.foreach(s => store.read(p, n, s, store.shardStart(p, n, s),
        store.shardEnd(p, n, s)).foreach(_ => ()))
    }
    val stageRecs = (0 until StageRows).map(i => LogRecord(Gen.T0 + i, "t", "probe",
      Map.empty, Map("key" -> s"probe-$i", "v" -> i.toString)))
    var rep = 0
    (0 until Reps).foreach { _ =>
      rep += 1
      val staged = t.span("store.stage") {
        (0 until StageSegments).map(i => store.stageSegment(p, n, shards(i % shards.size),
          s"probe-stage-$rep-$i", stageRecs))
      }
      t.span("store.commit")(store.commitSegments(p, n, staged))
    }

    // ---- connector: batch planning and readers ---------------------
    val provider = new LogServiceTableProvider
    def batch(s: StructType) = provider.getTable(s, Array.empty, opts.asJava)
      .asInstanceOf[LogServiceTable]
      .newScanBuilder(new CaseInsensitiveStringMap(opts.asJava)).build().toBatch
    var parts: Array[InputPartition] = Array.empty
    val planMs = reps("connector.plan_batch") { parts = batch(schema).planInputPartitions() }
    def readAll(s: StructType): Unit = {
      val f = new LogReaderFactory(s, false)
      batch(s).planInputPartitions().foreach { ip =>
        val r = f.createReader(ip)
        try while (r.next()) r.get() finally r.close()
      }
    }
    val readerMs = reps("connector.reader")(readAll(schema))
    val narrowMs = reps("connector.reader_narrow")(readAll(narrow))
    val recs = shards.iterator.flatMap(s => store.read(p, n, s, store.shardStart(p, n, s),
      store.shardEnd(p, n, s))).take(ConvertCap).toArray
    val readers = schema.fields.map(f => RowConverters.makeReader(f.dataType, f.nullable))
    val convertMs = reps("connector.convert") {
      recs.foreach { case (ord, r) =>
        RowConverters.recordToRow(schema, readers, p, n, 0, ord, r, null) }
    }

    // ---- connector: writer, sink commit -----------------------------
    val wSchema = StructType.fromDDL("key STRING, v LONG, __time__ TIMESTAMP")
    val wOpts = LogServiceOptions(opts)
    val rows = (0 until WriteRows).map { i =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(s"probe-$i"), i.toLong,
        (Gen.T0 + i).toLong * 1000000L)): InternalRow
    }
    val bw = new LogBatchWrite(wSchema, wOpts, "probe")
    val info = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def writer() = { rep += 1; bw.createBatchWriterFactory(info).createWriter(rep, rep.toLong) }
    (0 until Reps).foreach { _ =>
      val msg = t.span("connector.writer") {
        val w = writer()
        rows.foreach(w.write)
        try w.commit() finally w.close()
      }
      t.span("connector.sink_commit")(bw.commit(Array(msg)))
    }
    // live heap the writer holds for one task's rows before its commit
    val before = Heap.liveMb()
    val w = writer()
    rows.foreach(w.write)
    val writerHeapMb = Heap.liveMb() - before
    bw.commit(Array(try w.commit() finally w.close()))

    // ---- connector: micro-batch stream offsets and planning ---------
    val stream = new LogMicroBatchStream(schema, wOpts)
    val start = stream.initialOffset()
    var end: org.apache.spark.sql.connector.read.streaming.Offset = start
    val latestMs = reps("connector.latest_offset") {
      end = stream.latestOffset(start, ReadLimit.maxRows(wOpts.maxOffsetsPerTrigger))
    }
    val planStreamMs = reps("connector.plan_stream")(stream.planInputPartitions(start, end))

    Map(
      "store.latest_fold_ms" -> foldMs,
      "store.delta_manifests" -> deltaManifests.toDouble,
      "store.read_rec_per_s" -> total / (readMs / 1e3),
      "store.stage_rec_per_s" -> StageSegments * StageRows / (med("store.stage") / 1e3),
      "store.commit_ms" -> med("store.commit"),
      "connector.plan_batch_ms" -> planMs,
      "connector.partitions" -> parts.length.toDouble,
      "connector.reader_rec_per_s" -> total / (readerMs / 1e3),
      "connector.reader_narrow_rec_per_s" -> total / (narrowMs / 1e3),
      "connector.convert_ns_per_rec" -> convertMs * 1e6 / math.max(1, recs.length),
      "connector.writer_rec_per_s" -> WriteRows / (med("connector.writer") / 1e3),
      "connector.writer_heap_mb" -> writerHeapMb,
      "connector.sink_commit_ms" -> med("connector.sink_commit"),
      "connector.latest_offset_ms" -> latestMs,
      "connector.plan_stream_ms" -> planStreamMs)
  }
}
