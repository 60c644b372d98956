package graft

import graft.connector._
import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Partitions carry their segment lists from the planning snapshot to
  * the readers. A segment compaction between planning and reading
  * deletes listed files: the readers must heal onto the new layout and
  * still deliver every record exactly once at its original ordinal, with
  * a `__sequence_number__` that names the segment it was read from. */
class CarriedSegmentsSpec extends AnyFunSuite with TempDirs {
  import CarriedSegmentsSpec._

  test("batch partitions read a compacted store exactly once") {
    check(this, 2, batchPlan, readersFirst = false)
    check(this, 2, batchPlan, readersFirst = true)
  }

  test("micro-batch partitions read a compacted store exactly once") {
    check(this, 2, microBatchPlan, readersFirst = false)
    check(this, 2, microBatchPlan, readersFirst = true)
  }
}

object CarriedSegmentsSpec extends org.scalatest.Assertions {
  private val schema =
    StructType.fromDDL("msg INT, __sequence_number__ STRING, __shard__ INT")
  private val SegmentsPerShard = 8
  private val PerSegment = 3

  private def seeded(dirs: TempDirs, shards: Int): (String, EmbeddedLogStore) = {
    val root = dirs.tempDir("carried-segments").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", shards)
    for (seg <- 0 until SegmentsPerShard; shard <- 0 until shards)
      s.appendSegment("proj", "logs", shard, s"s$seg", (0 until PerSegment).map { i =>
        val msg = shard * 1000 + seg * PerSegment + i
        LogRecord(1700000000 + msg, "t", "s", Map.empty, Map("msg" -> msg.toString))
      })
    (root, s)
  }

  private def opts(root: String) = Map("store.root" -> root,
    "store.project" -> "proj", "store.name" -> "logs",
    "appendsequencenumber" -> "true", "store.sliceshard" -> "3")

  /** msg → (shard, ordinal) as the store numbers them before compaction. */
  private def ordinals(s: EmbeddedLogStore, shards: Int): Map[Int, (Int, Long)] =
    (0 until shards).flatMap { shard =>
      s.read("proj", "logs", shard, 0, Long.MaxValue).map { case (ord, r) =>
        r.contents("msg").toInt -> (shard, ord)
      }
    }.toMap

  /** (shard, msg, sequence number) of every row a reader returns. */
  private def drain(r: PartitionReader[InternalRow]): Seq[(Int, Int, String)] = {
    val out = Seq.newBuilder[(Int, Int, String)]
    try while (r.next()) {
      val row = r.get()
      out += ((row.getInt(2), row.getInt(0), row.getUTF8String(1).toString))
    } finally r.close()
    out.result()
  }

  /** Compacts a `shards`-shard store (in a directory of `dirs`) between
    * planning and reading; with `readersFirst` the readers already exist
    * when the compaction runs. Returns the planned partitions. */
  def check(dirs: TempDirs, shards: Int,
      plan: String => (Array[InputPartition], PartitionReaderFactory),
      readersFirst: Boolean): Array[InputPartition] = {
    val (root, s) = seeded(dirs, shards)
    val expected = ordinals(s, shards)
    val (parts, factory) = plan(root)
    val slices = parts.map(_.asInstanceOf[LogPackedPartition].slices)
    assert(slices.flatten.forall(_.segments.nonEmpty))
    val early = if (readersFirst) parts.map(p => Some(factory.createReader(p))) else parts.map(_ => None)
    assert(s.compactSegments("proj", "logs", targetRecords = 10) > 0)
    val rows = parts.indices.flatMap { i =>
      val read = drain(early(i).getOrElse(factory.createReader(parts(i))))
      // a partition returns only rows of the shards its slices cover
      assert(read.map(_._1).toSet.subsetOf(slices(i).map(_.shard).toSet))
      read
    }
    // every record exactly once
    assert(rows.map(_._2).sorted === expected.keys.toSeq.sorted)
    val after = (0 until shards).map(sh => sh -> s.listSegments("proj", "logs", sh)).toMap
    rows.foreach { case (shard, msg, seq) =>
      val Array(base, offset) = seq.split("-").map(_.toLong)
      // original ordinal, and a sequence string from the layout read
      assert(expected(msg) === ((shard, base + offset)), s"msg $msg seq $seq")
      assert(after(shard).exists(seg => seg.base == base && base + offset < seg.end),
        s"msg $msg seq $seq names no segment of the layout it was read from")
    }
    parts
  }

  def batchPlan(root: String): (Array[InputPartition], PartitionReaderFactory) = {
    val o = opts(root)
    val batch = new LogServiceTableProvider().getTable(schema, Array.empty, o.asJava)
      .asInstanceOf[LogServiceTable]
      .newScanBuilder(new CaseInsensitiveStringMap(o.asJava)).build().toBatch
    (batch.planInputPartitions(), batch.createReaderFactory())
  }

  def microBatchPlan(root: String): (Array[InputPartition], PartitionReaderFactory) = {
    val stream = new LogMicroBatchStream(schema, LogServiceOptions(opts(root)))
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    (stream.planInputPartitions(start, end), stream.createReaderFactory())
  }
}
