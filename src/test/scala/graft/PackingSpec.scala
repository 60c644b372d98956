package graft

import graft.connector._
import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plans pack shard slices into at most leaf-parallelism partitions
  * (local[4]: 4). Packing changes which task reads a slice, never what
  * the slice reads: rows, ordinals and `__sequence_number__` values equal
  * those of the unpacked plan. */
class PackingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val Shards = 16
  private val PerSegment = 20
  private val T0 = 1700000000
  private val schema = StructType.fromDDL(
    "msg INT, __shard__ INT, __sequence_number__ STRING, __time__ TIMESTAMP")

  // plans pack only inside a session; every expectation here is local[4]'s
  override def beforeAll(): Unit = {
    super.beforeAll()
    assert(spark.sparkContext.defaultParallelism === 4)
  }

  /** Shard i holds 2 + i % 3 segments; segment j spans times
    * [T0 + 100j, T0 + 100j + PerSegment). */
  private def seeded(): String = {
    val root = tempDir("graft-packing").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", Shards)
    for (shard <- 0 until Shards; seg <- 0 until 2 + shard % 3)
      s.appendSegment("proj", "logs", shard, s"s$seg", (0 until PerSegment).map { i =>
        LogRecord(T0 + seg * 100 + i, "t", "s", Map.empty,
          Map("msg" -> (shard * 1000 + seg * PerSegment + i).toString))
      })
    root
  }

  private def opts(root: String, extra: (String, String)*) = (Map(
    "store.root" -> root, "store.project" -> "proj", "store.name" -> "logs",
    "appendsequencenumber" -> "true") ++ extra).asJava

  private def builder(root: String, extra: (String, String)*): LogScanBuilder = {
    val o = opts(root, extra: _*)
    new LogServiceTableProvider().getTable(schema, Array.empty, o)
      .asInstanceOf[LogServiceTable]
      .newScanBuilder(new CaseInsensitiveStringMap(o)).asInstanceOf[LogScanBuilder]
  }

  private def plan(b: LogScanBuilder): (Array[InputPartition], PartitionReaderFactory) = {
    val batch = b.build().toBatch
    (batch.planInputPartitions(), batch.createReaderFactory())
  }

  private def unpacked[T](body: => T): T =
    SparkTestSession.withConf("spark.sql.leafNodeDefaultParallelism", "64")(body)

  /** (shard, msg, sequence number) of every row, in read order. */
  private def readAll(planned: (Array[InputPartition], PartitionReaderFactory)): Seq[(Int, Int, String)] = {
    val (parts, factory) = planned
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[(Int, Int, String)]
      try while (r.next()) {
        val row: InternalRow = r.get()
        out += ((row.getInt(1), row.getInt(0), row.getUTF8String(2).toString))
      } finally r.close()
      out.result()
    }
  }

  private def assertPacked(parts: Array[InputPartition], like: Array[InputPartition]): Unit = {
    assert(parts.length === 4)
    // unpacked: one slice a bin
    val single = like.map(_.asInstanceOf[LogPackedPartition].slices)
    assert(single.forall(_.size == 1))
    val bins = parts.map(_.asInstanceOf[LogPackedPartition].slices)
    // every slice exactly once, in (shard, from) order inside its bin
    assert(bins.flatten.sortBy(s => (s.shard, s.from)).toSeq ===
      single.flatten.sortBy(s => (s.shard, s.from)).toSeq)
    bins.foreach(b => assert(b === b.sortBy(s => (s.shard, s.from))))
    // greedy longest-first: no bin exceeds another by more than one slice
    val loads = bins.map(_.map(_.records).sum)
    assert(loads.max - loads.min <= bins.flatten.map(_.records).max, loads.toSeq)
  }

  test("a 16-shard batch plan packs into 4 balanced partitions") {
    val root = seeded()
    Seq(1, 3).foreach { slices =>
      val extra = "store.sliceshard" -> slices.toString
      val (parts, _) = plan(builder(root, extra))
      val (like, _) = unpacked(plan(builder(root, extra)))
      assert(like.length === Shards * slices)
      assertPacked(parts, like)
    }
  }

  test("packed rows and sequence numbers equal the unpacked plan's") {
    val root = seeded()
    def df() = spark.read.format("graft-logstore").options(opts(root).asScala)
      .schema(schema).load()
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().toSeq.map(_.mkString("|")).sorted
    val packed = df()
    assert(packed.rdd.getNumPartitions === 4)
    val expected = unpacked {
      val d = df()
      assert(d.rdd.getNumPartitions === Shards)
      rows(d)
    }
    assert(rows(packed) === expected)
    assert(expected.size === (0 until Shards).map(s => (2 + s % 3) * PerSegment).sum)
    // a pushed __time__ range: segment 1 of every shard
    def ranged(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("__time__") >= new java.sql.Timestamp((T0 + 100) * 1000L))
        .filter(col("__time__") < new java.sql.Timestamp((T0 + 200) * 1000L))
    val packedRange = ranged(df())
    assert(packedRange.queryExecution.executedPlan.toString.contains("timeRange=Some"))
    val expectedRange = unpacked(rows(ranged(df())))
    assert(rows(packedRange) === expectedRange)
    assert(expectedRange.size === Shards * PerSegment)
  }

  test("packing keeps each slice's time range and LIMIT cap") {
    val root = seeded()
    def timed(b: LogScanBuilder): LogScanBuilder = {
      b.pushFilters(Array(GreaterThanOrEqual("__time__", (T0 + 100).toLong),
        LessThan("__time__", (T0 + 205).toLong)))
      b
    }
    def limited(b: LogScanBuilder): LogScanBuilder = { b.pushLimit(7); b }
    Seq[(LogScanBuilder => LogScanBuilder, Int)](
      (timed, Shards * PerSegment + (0 until Shards).count(_ % 3 > 0) * 5),
      (limited, Shards * 7)).foreach { case (push, n) =>
      Seq(Seq.empty, Seq("store.sliceshard" -> "2")).foreach { extra =>
        val packed = plan(push(builder(root, extra: _*)))
        val like = unpacked(plan(push(builder(root, extra: _*))))
        assertPacked(packed._1, like._1)
        val rows = readAll(packed)
        assert(rows.sorted === readAll(like).sorted)
        assert(rows.size === n)
        assert(rows.map(r => (r._1, r._2)).distinct.size === n)
      }
    }
  }

  test("a micro-batch over 16 shards packs its partitions") {
    val root = seeded()
    def planned() = {
      val stream = new LogMicroBatchStream(schema, LogServiceOptions(opts(root).asScala.toMap))
      val start = stream.initialOffset()
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
      (stream.planInputPartitions(start, end), stream.createReaderFactory())
    }
    val packed = planned()
    val like = unpacked(planned())
    assert(like._1.length === Shards)
    assertPacked(packed._1, like._1)
    assert(readAll(packed).sorted === readAll(like).sorted)
    assert(readAll(packed).sorted === readAll(plan(builder(root))).sorted)
  }

  test("a packed partition heals across a compaction and reads every record once") {
    Seq(false, true).foreach { readersFirst =>
      Seq(CarriedSegmentsSpec.batchPlan _, CarriedSegmentsSpec.microBatchPlan _).foreach { p =>
        val parts = CarriedSegmentsSpec.check(this, 8, p, readersFirst)
        assert(parts.length === 4)
        assert(parts.forall(_.asInstanceOf[LogPackedPartition].slices.size > 1))
      }
    }
  }
}
