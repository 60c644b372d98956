package graft

import graft.connector._
import graft.store.{EmbeddedLogStore, LogRecord}
import java.nio.file.Files
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
class CarriedSegmentsSpec extends AnyFunSuite {
  private val schema = StructType.fromDDL("msg INT, __sequence_number__ STRING")
  private val Shards = 2
  private val SegmentsPerShard = 8
  private val PerSegment = 3

  private def seeded(): (String, EmbeddedLogStore) = {
    val root = Files.createTempDirectory("carried-segments").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", Shards)
    for (seg <- 0 until SegmentsPerShard; shard <- 0 until Shards)
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
  private def ordinals(s: EmbeddedLogStore): Map[Int, (Int, Long)] =
    (0 until Shards).flatMap { shard =>
      s.read("proj", "logs", shard, 0, Long.MaxValue).map { case (ord, r) =>
        r.contents("msg").toInt -> (shard, ord)
      }
    }.toMap

  private def drain(r: PartitionReader[InternalRow]): Seq[(Int, String)] = {
    val out = Seq.newBuilder[(Int, String)]
    try while (r.next()) out += ((r.get().getInt(0), r.get().getUTF8String(1).toString))
    finally r.close()
    out.result()
  }

  /** Compacts between planning and reading; with `readersFirst` the
    * readers already exist when the compaction runs. */
  private def check(plan: String => (Array[InputPartition], PartitionReaderFactory),
      readersFirst: Boolean): Unit = {
    val (root, s) = seeded()
    val expected = ordinals(s)
    val (parts, factory) = plan(root)
    val shardOf = parts.map(_.asInstanceOf[LogInputPartition].shard)
    assert(parts.forall(_.asInstanceOf[LogInputPartition].segments.isDefined))
    val early = if (readersFirst) parts.map(p => Some(factory.createReader(p))) else parts.map(_ => None)
    assert(s.compactSegments("proj", "logs", targetRecords = 10) > 0)
    val rows = parts.indices.flatMap { i =>
      drain(early(i).getOrElse(factory.createReader(parts(i)))).map(r => (shardOf(i), r))
    }
    // every record exactly once
    assert(rows.map(_._2._1).sorted === expected.keys.toSeq.sorted)
    val after = (0 until Shards).map(sh => sh -> s.listSegments("proj", "logs", sh)).toMap
    rows.foreach { case (shard, (msg, seq)) =>
      val Array(base, offset) = seq.split("-").map(_.toLong)
      // original ordinal, and a sequence string from the layout read
      assert(expected(msg) === ((shard, base + offset)), s"msg $msg seq $seq")
      assert(after(shard).exists(seg => seg.base == base && base + offset < seg.end),
        s"msg $msg seq $seq names no segment of the layout it was read from")
    }
  }

  private def batchPlan(root: String) = {
    val o = opts(root)
    val batch = new LogServiceTableProvider().getTable(schema, Array.empty, o.asJava)
      .asInstanceOf[LogServiceTable]
      .newScanBuilder(new CaseInsensitiveStringMap(o.asJava)).build().toBatch
    (batch.planInputPartitions(), batch.createReaderFactory())
  }

  private def microBatchPlan(root: String) = {
    val stream = new LogMicroBatchStream(schema, LogServiceOptions(opts(root)))
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    (stream.planInputPartitions(start, end), stream.createReaderFactory())
  }

  test("batch partitions read a compacted store exactly once") {
    check(batchPlan, readersFirst = false)
    check(batchPlan, readersFirst = true)
  }

  test("micro-batch partitions read a compacted store exactly once") {
    check(microBatchPlan, readersFirst = false)
    check(microBatchPlan, readersFirst = true)
  }
}
