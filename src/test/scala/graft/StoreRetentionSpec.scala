package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import org.scalatest.funsuite.AnyFunSuite

/** Time-based retention (expireSegments): prefix-only expiry, stable
  * surviving ordinals via per-shard bases, earliest resolution, replay
  * memory, and interplay with compaction and streams. */
class StoreRetentionSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def rec(t: Int) =
    LogRecord(t, "", "", Map.empty, Map("msg" -> t.toString))
  private def newStore() = {
    val root = tempDir("graft-retain").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 2)
    (root, s)
  }

  test("prefix expiry preserves surviving ordinals and moves the start") {
    val (_, s) = newStore()
    // shard 0: 4 time-ordered segments of 2 records each
    (0 until 4).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i * 10), rec(i * 10 + 1))))
    val before = s.read("proj", "logs", 0, 4, 8).toSeq
    assert(s.expireSegments("proj", "logs", beforeTime = 20) === 2)
    // records 0..3 (ordinals 0..3) gone; ordinals 4..7 IDENTICAL
    assert(s.shardStart("proj", "logs", 0) === 4L)
    assert(s.shardEnd("proj", "logs", 0) === 8L)
    assert(s.read("proj", "logs", 0, 4, 8).toSeq === before)
    // a cursor below the base reads only what still exists
    assert(s.read("proj", "logs", 0, 0, 8).map(_._1).toSeq === Seq(4L, 5L, 6L, 7L))
    assert(s.cursorAtTime("proj", "logs", 0, 0) === 4L)
    // a segment only PARTLY older than the cutoff does not expire
    assert(s.expireSegments("proj", "logs", beforeTime = 31) === 1)
    assert(s.shardStart("proj", "logs", 0) === 6L)
  }

  test("mid-sequence cold segments never expire (prefix only)") {
    val (_, s) = newStore()
    s.appendSegment("proj", "logs", 0, "hot", Seq(rec(100)))
    s.appendSegment("proj", "logs", 0, "cold", Seq(rec(5)))
    // the cold segment is NOT a prefix — dropping it would renumber
    assert(s.expireSegments("proj", "logs", beforeTime = 50) === 0)
    assert(s.shardEnd("proj", "logs", 0) === 2L)
  }

  test("expired epochs stay deduped; compaction keeps the base") {
    val (_, s) = newStore()
    val st = s.stageSegment("proj", "logs", 0, "e1", Seq(rec(10)))
    s.commitSegments("proj", "logs", Seq(st))
    (0 until 4).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"w$i", Seq(rec(100 + i))))
    assert(s.expireSegments("proj", "logs", beforeTime = 50) === 1)
    // replaying the expired epoch must NOT resurrect its data
    val replay = s.stageSegment("proj", "logs", 0, "e1", Seq(rec(10)))
    s.commitSegments("proj", "logs", Seq(replay))
    assert(s.shardEnd("proj", "logs", 0) === 5L)
    assert(s.read("proj", "logs", 0, 0, 9).map(_._2.time).toSeq ===
      Seq(100, 101, 102, 103))
    // segment compaction after retention carries the base forward
    assert(s.compactSegments("proj", "logs", targetRecords = 100) === 1)
    assert(s.shardStart("proj", "logs", 0) === 1L)
    assert(s.read("proj", "logs", 0, 1, 5).map(_._1).toSeq ===
      Seq(1L, 2L, 3L, 4L))
    s.compactManifests("proj", "logs")
    assert(s.shardStart("proj", "logs", 0) === 1L)
  }

  test("earliest offsets resolve to the base; streams skip expired data") {
    val (root, s) = newStore()
    (0 until 6).foreach(i =>
      s.appendSegment("proj", "logs", i % 2, s"seg$i", Seq(rec(1700000000 + i))))
    assert(s.expireSegments("proj", "logs", 1700000002) === 2)
    val opts = Map("store.root" -> root, "store.project" -> "proj",
      "store.name" -> "logs")
    // batch earliest → only live records
    val df = spark.read.format("graft-logstore").options(opts)
      .schema("msg INT, __time__ TIMESTAMP").load()
    assert(df.count() === 4)
    import org.apache.spark.sql.functions._
    assert(df.agg(min(col("msg"))).first().getInt(0) === 1700000002)
    // a stream from earliest drains exactly the live records
    val ckpt = tempDir("ckpt").toString
    val q = spark.readStream.format("graft-logstore").options(opts)
      .schema("msg INT, __time__ TIMESTAMP").load()
      .writeStream.format("memory").queryName("t_retain")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitDone(q)
    assert(spark.table("t_retain").count() === 4)
    // exact statistics report live rows only
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong === 4L), stats)
  }

  test("snapshot ends at a pre-retention version include the base") {
    val (_, s) = newStore()
    (0 until 4).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i * 10))))
    assert(s.expireSegments("proj", "logs", beforeTime = 15) === 2)
    val v = s.latestVersion("proj", "logs")
    s.appendSegment("proj", "logs", 0, "late", Seq(rec(99)))
    // snapshot at the retention checkpoint: base 2 + live 2
    assert(s.shardEndsAt("proj", "logs", v).getOrElse(0, 0L) === 4L)
    assert(s.shardEndsAt("proj", "logs", v + 1).getOrElse(0, 0L) === 5L)
  }
}
