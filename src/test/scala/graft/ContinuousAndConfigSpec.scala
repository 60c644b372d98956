package graft

import graft.api.{LogServiceUtils, OffsetCommitListener}
import graft.connector.{LogServiceOffset, LogShardPartitionOffset}
import graft.store.{EmbeddedLogStore, LogRecord}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class ContinuousAndConfigSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def seeded(n: Int): String = {
    val root = tempDir("graft-cc").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    store.appendSegment("proj", "logs", 0, "a",
      (0 until n).map(i => LogRecord(1700000000 + i, "t", "s", Map.empty,
        Map("msg" -> i.toString))))
    root
  }

  private def opts(root: String) = Map("store.root" -> root,
    "store.project" -> "proj", "store.name" -> "logs")

  test("continuous trigger end-to-end: drains existing and tails new data") {
    val root = seeded(20)
    val q = spark.readStream.format("graft-logstore").options(opts(root))
      .schema("msg INT").load()
      .writeStream.format("memory").queryName("t_cont")
      .option("checkpointLocation", tempDir("ckpt").toString)
      .trigger(Trigger.Continuous("1 second")).start()
    try {
      var tries = 0
      while (spark.table("t_cont").count() < 20 && tries < 150) {
        assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
        Thread.sleep(200); tries += 1
      }
      assert(spark.table("t_cont").count() >= 20)
      // low-latency tail: rows appended mid-flight arrive without a restart
      new EmbeddedLogStore(root).appendSegment("proj", "logs", 1, "live",
        Seq(LogRecord(1700000500, "t", "s", Map.empty, Map("msg" -> "777"))))
      tries = 0
      while (spark.table("t_cont").filter(col("msg") === 777).count() < 1 &&
          tries < 150) {
        Thread.sleep(200); tries += 1
      }
      assert(spark.table("t_cont").filter(col("msg") === 777).count() === 1)
    } finally q.stop()
  }

  test("continuous tail survives a mid-flight segment rewrite") {
    // many 1-record segments so the rewrite has something to fold; the
    // tailing readers hold listings a compaction invalidates mid-run
    val root = tempDir("graft-cc-opt").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    (0 until 12).foreach(i =>
      store.appendSegment("proj", "logs", i % 2, s"s$i",
        Seq(LogRecord(1700000000 + i, "t", "s", Map.empty,
          Map("msg" -> i.toString)))))
    val q = spark.readStream.format("graft-logstore").options(opts(root))
      .schema("msg INT").load()
      .writeStream.format("memory").queryName("t_cont_opt")
      .option("checkpointLocation", tempDir("ckpt").toString)
      .trigger(Trigger.Continuous("1 second")).start()
    try {
      var tries = 0
      while (spark.table("t_cont_opt").count() < 12 && tries < 150) {
        assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
        Thread.sleep(200); tries += 1
      }
      assert(spark.table("t_cont_opt").count() >= 12)
      // rewrite everything under the running tail, then append more
      assert(store.compactSegments("proj", "logs", targetRecords = 100) > 0)
      (12 until 16).foreach(i =>
        store.appendSegment("proj", "logs", i % 2, s"s$i",
          Seq(LogRecord(1700000000 + i, "t", "s", Map.empty,
            Map("msg" -> i.toString)))))
      tries = 0
      while (spark.table("t_cont_opt").count() < 16 && tries < 150) {
        assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
        Thread.sleep(200); tries += 1
      }
      // every record exactly once, across the rewrite
      val got = spark.table("t_cont_opt").collect().map(_.getInt(0)).sorted
      assert(got.toSeq === (0 until 16), got.mkString(","))
    } finally q.stop()
  }

  test("continuous stream: offsets merge per shard and reader tails new data") {
    val root = seeded(5)
    val streamOpts = graft.connector.LogServiceOptions(opts(root))
    val cs = new graft.connector.LogContinuousStream(
      org.apache.spark.sql.types.StructType.fromDDL("msg INT"), streamOpts)
    val init = cs.initialOffset().asInstanceOf[LogServiceOffset]
    assert(init.shardOrdinals === Map(0 -> 0L, 1 -> 0L))
    assert(cs.planInputPartitions(init).length === 2)
    val merged = cs.mergeOffsets(Array(
      LogShardPartitionOffset(0, 7L), LogShardPartitionOffset(1, 3L)))
    assert(LogServiceOffset.parse(merged.json()).shardOrdinals ===
      Map(0 -> 7L, 1 -> 3L))
    // reader drains existing records then picks up appended ones
    val p = graft.connector.LogShardTail("proj", "logs", 0, 0, root)
    val reader = new graft.connector.LogContinuousPartitionReader(
      org.apache.spark.sql.types.StructType.fromDDL("msg INT"), p, false)
    (0 until 5).foreach { i =>
      assert(reader.next()); assert(reader.get().getInt(0) === i)
    }
    new EmbeddedLogStore(root).appendSegment("proj", "logs", 0, "b",
      Seq(LogRecord(1700000100, "t", "s", Map.empty, Map("msg" -> "99"))))
    assert(reader.next())
    assert(reader.get().getInt(0) === 99)
    assert(reader.getOffset === LogShardPartitionOffset(0, 6L))
    reader.close()
  }

  test("dynamic config override retunes admission without restart") {
    val root = seeded(100)
    val store = new EmbeddedLogStore(root)
    // write the override through the operator CLI (the reference's
    // UpdateSourceConfig surface): set a decoy, then the real budget
    var said = ""
    graft.api.UpdateSourceConfig.run(Array(
      "--root", root, "--project", "proj", "--store", "logs",
      "--config", "maxoffsetspertrigger:999",
      "--config", "decoy:x"), said += _)
    graft.api.UpdateSourceConfig.run(Array(
      "--root", root, "--project", "proj", "--store", "logs",
      "--config", "maxoffsetspertrigger:10",
      "--config", "decoy:"), said += _) // trailing ':' deletes the key
    assert(said.endsWith("config: maxoffsetspertrigger=10"))
    assert(store.readSourceConfig("proj", "logs") ===
      Map("maxoffsetspertrigger" -> "10"))
    val ckpt = tempDir("ckpt").toString
    val q = spark.readStream.format("graft-logstore").options(opts(root))
      .option("maxoffsetspertrigger", "1000") // overridden by config.json
      .schema("msg INT").load()
      .writeStream.format("memory").queryName("t_dyn")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    assert(spark.table("t_dyn").count() === 100)
    assert(q.recentProgress.forall(_.numInputRows <= 10))
    assert(q.recentProgress.count(_.numInputRows > 0) >= 10)
  }

  test("consumer-group offsets: monotonic commit, resume JSON, commitAsync listener") {
    val root = seeded(30)
    val store = new EmbeddedLogStore(root)
    val ref = LogServiceUtils.StoreRef(root, "proj", "logs")
    // monotonic merge: the stale second commit must not regress shard 0
    assert(LogServiceUtils.commitOffsets(ref, "g1", Map(0 -> 10L, 1 -> 2L))
      === Map(0 -> 10L, 1 -> 2L))
    assert(LogServiceUtils.commitOffsets(ref, "g1", Map(0 -> 7L, 1 -> 5L))
      === Map(0 -> 10L, 1 -> 5L))
    assert(store.readGroupOffsets("proj", "logs", "g1") ===
      Map(0 -> 10L, 1 -> 5L))
    assert(LogServiceUtils.committedOffsets(ref, "absent") === Map.empty)
    assert(LogServiceUtils.resumeOffsetsJson(ref, "absent").isEmpty)

    // commitAsync analog: a listener publishes every batch's end offsets
    val listener = new OffsetCommitListener(ref, "etl")
    spark.streams.addListener(listener)
    try {
      val q = spark.readStream.format("graft-logstore").options(opts(root))
        .option("maxoffsetspertrigger", "8") // several micro-batches
        .schema("msg INT").load()
        .writeStream.format("memory").queryName("t_grp")
        .option("checkpointLocation",
          tempDir("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q)
      assert(spark.table("t_grp").count() === 30)
      // listener events are asynchronous — poll for the final commit
      var tries = 0
      while (LogServiceUtils.committedOffsets(ref, "etl").getOrElse(0, 0L) < 30
          && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(LogServiceUtils.committedOffsets(ref, "etl")(0) === 30L)

      // resume a NEW query (fresh checkpoint) from the group position:
      // only records appended after the commit arrive
      store.appendSegment("proj", "logs", 0, "late",
        Seq(LogRecord(1700000900, "t", "s", Map.empty, Map("msg" -> "424242"))))
      val json = LogServiceUtils.resumeOffsetsJson(ref, "etl").get
      val q2 = spark.readStream.format("graft-logstore").options(opts(root))
        .option("startingoffsets", json)
        .schema("msg INT").load()
        .writeStream.format("memory").queryName("t_grp2")
        .option("checkpointLocation",
          tempDir("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q2)
      assert(spark.table("t_grp2").collect().map(_.getInt(0)).toSeq ===
        Seq(424242))
    } finally spark.streams.removeListener(listener)
  }

  test("consumer-group commits: concurrent committers never lose progress; compaction bounds files") {
    val root = seeded(1)
    // 8 racing committers, each through its OWN store handle (no shared
    // lock): the append-only group log makes monotonicity structural —
    // a read-modify-write design would let one handle overwrite another
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        val s = new EmbeddedLogStore(root)
        (1 to 50).foreach { i =>
          s.commitGroupOffsets("proj", "logs", "race",
            Map(0 -> (t * 50L + i), 1 -> i.toLong))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val fin = new EmbeddedLogStore(root).readGroupOffsets("proj", "logs", "race")
    assert(fin === Map(0 -> 400L, 1 -> 50L)) // per-shard max across all 400
    // opportunistic compaction keeps the entry log bounded
    val dir = java.nio.file.Paths.get(root, "proj", "logs", "groups", "race")
    val nFiles = java.nio.file.Files.list(dir).count()
    assert(nFiles <= 70, s"group entry log not compacted: $nFiles files")
  }

  test("writer hash-key routing by column") {
    val root = tempDir("graft-rt").toString
    new EmbeddedLogStore(root).createStore("proj", "logs", 4)
    import spark.implicits._
    (0 until 40).map(i => (1700000000 + i, s"user${i % 8}", s"m$i"))
      .toDF("__time__", "user", "payload")
      .write.format("graft-logstore").options(opts(root))
      .option("routing.column", "user").mode("append").save()
    val back = spark.read.format("graft-logstore").options(opts(root))
      .schema("user STRING, payload STRING, __shard__ INT").load()
    assert(back.count() === 40)
    // same key always lands on the same shard
    val spread = back.groupBy("user").agg(countDistinct("__shard__").as("n"))
      .agg(max("n")).first().getLong(0)
    assert(spread === 1L)
    // multiple shards used overall
    assert(back.select("__shard__").distinct().count() >= 2)
  }
}
