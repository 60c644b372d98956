package graft

import graft.api.LogServiceUtils
import graft.api.LogServiceUtils.StoreRef
import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class PushdownSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def seeded(): StoreRef = {
    val ref = StoreRef(tempDir("graft-pd").toString, "proj", "logs")
    LogServiceUtils.createStore(ref, 2)
    val store = new EmbeddedLogStore(ref.root)
    // three time-disjoint segments per shard: [100,199], [200,299], [300,399]
    for (shard <- 0 to 1; epoch <- 0 to 2) {
      val base = 1700000000 + epoch * 100
      store.appendSegment("proj", "logs", shard, s"seg$epoch",
        (0 until 50).map(i => LogRecord(base + (i % 100), "t", "s", Map.empty,
          Map("msg" -> (shard * 1000 + epoch * 100 + i).toString))))
    }
    ref
  }

  private val schema = StructType.fromDDL("msg INT, __time__ TIMESTAMP")

  test("__time__ range filter prunes segments but returns exact results") {
    val ref = seeded()
    val df = LogServiceUtils.createBatchDF(spark, ref, Some(schema))
      .filter(col("__time__") >= lit("2023-11-14 22:15:00").cast("timestamp")) // 1700000100
      .filter(col("__time__") < lit("2023-11-14 22:16:40").cast("timestamp")) // 1700000200
    // middle segment only: 50 per shard
    assert(df.count() === 100)
    // pushdown must appear in the scan description
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("timeRange=Some((1700000100,1700000200))"), plan)
  }

  test("string-typed __time__ bounds push to a conservative segment-skipping range") {
    val ref = seeded()
    val strSchema = StructType.fromDDL("msg INT, __time__ STRING")
    // bounds rendered exactly as the STRING column renders its values
    // (same java.sql.Timestamp calendar + JVM timezone), so the string
    // comparison semantics and the parsed epoch agree
    val s1 = 1700000100L
    val s2 = 1700000200L
    def asStr(s: Long) = new java.sql.Timestamp(s * 1000L).toString
    val df = LogServiceUtils.createBatchDF(spark, ref, Some(strSchema))
      .filter(col("__time__") >= lit(asStr(s1)))
      .filter(col("__time__") < lit(asStr(s2)))
    // string order == time order for the fixed-width rendering:
    // the middle segment only, 50 per shard
    assert(df.count() === 100)
    // conservative [s, s+1) interval bounds: lo = s1, hi = s2 + 1 —
    // over-keeping by <= 1s, never skipping a passing record
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"timeRange=Some((${s1},${s2 + 1}))"), plan)
    // an unparseable string bound refuses the push and still answers
    // ('!' sorts below every digit, so all rendered times pass the
    // residual string filter)
    val raw = LogServiceUtils.createBatchDF(spark, ref, Some(strSchema))
      .filter(col("__time__") > lit("!not-a-timestamp"))
    assert(raw.count() === 300)
    assert(raw.queryExecution.executedPlan.toString.contains("timeRange=None"))
  }

  test("starttime/endtime options bound the scan exactly") {
    val ref = seeded()
    // seeded times per shard: seg0 [..000-..049], seg1 [..100-..149],
    // seg2 [..200-..249]; window [..120, ..230) → 30 + 30 per shard
    val df = LogServiceUtils.createBatchDF(spark, ref, Some(schema),
      startTime = Some(1700000120), endTime = Some(1700000230))
    assert(df.count() === 120)
    val r = df.agg(min(col("__time__").cast("long")),
      max(col("__time__").cast("long"))).first()
    assert(r.getLong(0) === 1700000120L && r.getLong(1) === 1700000229L)
  }

  test("limit pushdown caps partition ranges; residual time filter disables it") {
    val root = tempDir("graft-limit").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    (0 until 2).foreach(sh => store.appendSegment("proj", "logs", sh, "a",
      (0 until 100).map(i => LogRecord(1700000000 + i, "", "", Map.empty,
        Map("msg" -> i.toString)))))
    def df = spark.read.format("graft-logstore")
      .option("store.root", root).option("store.project", "proj")
      .option("store.name", "logs").schema("msg INT, __time__ TIMESTAMP").load()
    val limited = df.select("msg").limit(3)
    assert(limited.count() === 3)
    assert(limited.queryExecution.executedPlan.toString.contains("limit=Some(3)"))
    // with a filter between limit and scan, Spark doesn't offer the
    // limit to the source at all (and our cap would refuse it anyway
    // when a time range is pushed) — matching rows stay reachable
    val filtered = df.filter(col("__time__") >= lit("2023-11-14 22:14:30")
        .cast("timestamp")).select("msg").limit(3)
    assert(filtered.count() === 3)
    assert(filtered.queryExecution.executedPlan.toString.contains("limit=None"))
    assert(df.filter(col("__time__") >= lit("2023-11-14 22:14:30")
      .cast("timestamp")).count() > 3)
  }

  test("scan reports exact row-count statistics from segment metadata") {
    val ref = seeded()
    val df = LogServiceUtils.createBatchDF(spark, ref, Some(schema))
    val stats = df.queryExecution.optimizedPlan.stats
    // 2 shards x 3 segments x 50 records
    assert(stats.rowCount.exists(_.toLong === 300L), stats)
    // a small logstore joined to a big table plans as the broadcast side
    val big = spark.range(100000).selectExpr("CAST(id % 1000 AS INT) AS msg")
    val joined = big.join(df.select("msg"), "msg")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("count(*) / min/max(__time__) answered from manifest stats — zero data read") {
    val ref = seeded() // 300 records, times 1700000000+0..299
    val df = LogServiceUtils.createBatchDF(spark, ref, Some(schema))
    val counted = df.count()
    assert(counted === 300)
    // the plan must carry the stats-from-manifest scan, not a data scan
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("stats-from-manifest"), plan)
    // min/max(__time__) fold the segments' exact time bounds
    val mm = df.agg(min(col("__time__")).cast("long"),
      max(col("__time__")).cast("long"))
    val mmPlan = mm.queryExecution.executedPlan.toString
    assert(mmPlan.contains("stats-from-manifest"), mmPlan)
    val r = mm.head()
    // seeded times are base + (0..49) per epoch: max = 1700000200 + 49
    assert(r.getLong(0) === 1700000000L && r.getLong(1) === 1700000249L, r)
    // mixed with a non-stat aggregate: refuses, still exact
    val mixed = df.agg(min(col("__time__")).cast("long"), sum(col("msg")))
    assert(!mixed.queryExecution.executedPlan.toString.contains("stats-from-manifest"))
    assert(mixed.head().getLong(0) === 1700000000L)
    // a filtered count must NOT push (residual filter re-evaluates rows)
    val filtered = df.filter(col("msg") < 100)
    assert(filtered.count() === 50) // shard-0 epoch-0 msgs 0..49 only
    val fplan = filtered.groupBy().count().queryExecution.executedPlan.toString
    assert(!fplan.contains("stats-from-manifest"), fplan)
    // snapshot-pinned count = the prefix's records
    val store = new EmbeddedLogStore(ref.root)
    val v = store.latestVersion("proj", "logs")
    store.appendSegment("proj", "logs", 0, "late",
      (0 until 7).map(i => LogRecord(1700009000 + i, "t", "s", Map.empty,
        Map("msg" -> i.toString))))
    val pinned = spark.read.format("graft-logstore")
      .options(Map("store.root" -> ref.root, "store.project" -> "proj",
        "store.name" -> "logs", "store.snapshotversion" -> v.toString))
      .schema(schema).load()
    assert(pinned.count() === 300)
    assert(LogServiceUtils.createBatchDF(spark, ref, Some(schema)).count() === 307)
  }

  test("min/max(__time__) stat pushdown is gated on the declared time type") {
    val ref = seeded() // 300 records, times 1700000000+0..299
    // STRING __time__ (the default no-schema load() path): the unpushed
    // answer is the lexicographic min of stringified timestamps — the
    // manifest stat (a timestamp) is a DIFFERENT value, so the pushdown
    // must refuse. COUNT(*) is type-independent and still pushes.
    val strDf = LogServiceUtils.createBatchDF(spark, ref, None)
    val strAgg = strDf.agg(min(col("__time__")), max(col("__time__")))
    val strPlan = strAgg.queryExecution.executedPlan.toString
    assert(!strPlan.contains("stats-from-manifest"), strPlan)
    val expected = strDf.select(col("__time__")).collect().map(_.getString(0))
    val r = strAgg.head()
    assert(r.getString(0) === expected.min && r.getString(1) === expected.max, r)
    val cntPlan = strDf.groupBy().count().queryExecution.executedPlan.toString
    assert(cntPlan.contains("stats-from-manifest"), cntPlan)
    // BIGINT __time__: epoch seconds reproduce the stat exactly → pushes
    val longDf = LogServiceUtils.createBatchDF(spark, ref,
      Some(StructType.fromDDL("msg INT, __time__ BIGINT")))
    val longAgg = longDf.agg(min(col("__time__")), max(col("__time__")))
    assert(longAgg.queryExecution.executedPlan.toString
      .contains("stats-from-manifest"))
    val lr = longAgg.head()
    assert(lr.getLong(0) === 1700000000L && lr.getLong(1) === 1700000249L, lr)
    // INT __time__: same, at the declared width
    val intDf = LogServiceUtils.createBatchDF(spark, ref,
      Some(StructType.fromDDL("msg INT, __time__ INT")))
    val intAgg = intDf.agg(min(col("__time__")), max(col("__time__")))
    assert(intAgg.queryExecution.executedPlan.toString
      .contains("stats-from-manifest"))
    val ir = intAgg.head()
    assert(ir.getInt(0) === 1700000000 && ir.getInt(1) === 1700000249, ir)
  }

  test("sliceshard multiplies partitions without changing results") {
    val ref = seeded()
    def df(slices: Int) =
      LogServiceUtils.createBatchDF(spark, ref, Some(schema), sliceShard = slices)
    def answer(d: org.apache.spark.sql.DataFrame) =
      (d.count(), d.agg(sum("msg")).first().getLong(0))
    val df1 = df(1)
    assert(df1.rdd.getNumPartitions === 2)
    // with leaf parallelism to spare, every slice is its own partition
    SparkTestSession.withConf("spark.sql.leafNodeDefaultParallelism", "8") {
      val df4 = df(4)
      assert(df4.rdd.getNumPartitions === 8) // 2 shards × 4 slices
      assert(answer(df4) === answer(df1))
    }
    // by default the 8 slices pack into local[4]'s 4 partitions
    val packed = df(4)
    assert(packed.rdd.getNumPartitions === 4)
    assert(answer(packed) === answer(df1))
  }

  test("facade stream + write round-trip") {
    val ref = seeded()
    val dst = StoreRef(tempDir("graft-pd-out").toString, "proj", "out")
    LogServiceUtils.createStore(dst, 1)
    import org.apache.spark.sql.streaming.Trigger
    val q = LogServiceUtils.createStreamDF(spark, ref, Some(schema),
        maxOffsetsPerTrigger = 64)
      .writeStream.format("graft-logstore")
      .options(dst.options)
      .option("checkpointLocation", tempDir("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val back = LogServiceUtils.createBatchDF(spark, dst,
      Some(StructType.fromDDL("msg INT")))
    assert(back.count() === 300)
  }
}
