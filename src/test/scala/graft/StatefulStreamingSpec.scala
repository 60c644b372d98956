package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

case class UserAgg(userId: Long, nEvents: Long, maxTsS: Long)

/** Custom streaming state over the connector: mapGroupsWithState
  * (per-user running aggregates that survive micro-batch boundaries) —
  * the KeyValueGroupedDataset custom-state path of SURVEY §7.4 /
  * spark_guide. Pacing forces multiple micro-batches so state is
  * actually carried across triggers. */
class StatefulStreamingSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("mapGroupsWithState running per-user aggregates across micro-batches") {
    import spark.implicits._
    val root = tempDir("graft-state").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    // 8 users × 25 events, deliberately appended in 5 segments
    val recs = for (u <- 0 until 8; i <- 0 until 25) yield
      (u, LogRecord(1700000000 + i * 60 + u, "t", "s", Map.empty,
        Map("user" -> u.toString, "seq" -> i.toString)))
    recs.grouped(40).zipWithIndex.foreach { case (chunk, gi) =>
      chunk.groupBy(_._1 % 2).foreach { case (shard, rs) =>
        store.appendSegment("proj", "logs", shard, s"seg$gi", rs.map(_._2))
      }
    }

    def updateState(userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[UserAgg]): UserAgg = {
      val batch = rows.toSeq
      val prior = state.getOption.getOrElse(UserAgg(userId, 0L, 0L))
      val agg = UserAgg(userId,
        prior.nEvents + batch.size,
        (prior.maxTsS +: batch.map(_._2)).max)
      state.update(agg)
      agg
    }

    val ckpt = tempDir("ckpt").toString
    val q = spark.readStream.format("graft-logstore")
      .option("store.root", root).option("store.project", "proj")
      .option("store.name", "logs")
      .option("maxoffsetspertrigger", "40")
      .schema("user LONG, seq LONG, __time__ TIMESTAMP").load()
      .selectExpr("user", "CAST(__time__ AS LONG) AS ts")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateState)
      .writeStream.format("memory").queryName("t_state")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)

    // multiple micro-batches ⇒ state really crossed trigger boundaries
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    // latest emitted row per user = final running aggregate
    val finals = spark.table("t_state").as[UserAgg].collect()
      .groupBy(_.userId).map { case (u, rows) => u -> rows.maxBy(_.nEvents) }
    (0 until 8).foreach { u =>
      val f = finals(u.toLong)
      assert(f.nEvents === 25, s"user $u")
      assert(f.maxTsS === 1700000000L + 24 * 60 + u)
    }
  }

  test("transformWithState streaming dedup across micro-batches (RocksDB state)") {
    import graft.streaming.{DedupVerdict, StreamingDedup}
    import spark.implicits._
    val root = tempDir("graft-tws").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "docs", 1) // one shard ⇒ deterministic arrival order
    // 30 docs over 10 distinct texts; first arrival of text k is doc k
    val recs = (0 until 30).map { i =>
      LogRecord(1700000000 + i, "t", "s", Map.empty,
        Map("doc" -> i.toString, "text" -> s"document number ${i % 10}"))
    }
    recs.grouped(10).zipWithIndex.foreach { case (chunk, gi) =>
      store.appendSegment("proj", "docs", 0, s"seg$gi", chunk)
    }
    // isolated session: the RocksDB provider conf must not race with
    // other suites' streams on the shared session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    locally {
      val ckpt = tempDir("ckpt-tws").toString
      val verdicts = StreamingDedup.exact(
        s2.readStream.format("graft-logstore")
          .option("store.root", root).option("store.project", "proj")
          .option("store.name", "docs")
          .option("maxoffsetspertrigger", "10") // force several micro-batches
          .schema("doc LONG, text STRING").load()
          .selectExpr("md5(text) AS fp", "doc")
          .as[(String, Long)])
      val q = verdicts.writeStream.format("memory").queryName("t_tws")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
      val out = s2.table("t_tws").as[DedupVerdict].collect()
      assert(out.length === 30)
      // exactly one admission per distinct text, and it is the FIRST
      // arrival (state crossed micro-batch boundaries, so docs 10..29
      // must all be flagged even though they arrive in later triggers)
      val admitted = out.filter(!_.isDup).map(_.docId).sorted
      assert(admitted.toSeq === (0L until 10L))
      assert(out.count(_.isDup) === 20)
    }
  }

  test("transformWithState dedup TTL: expired fingerprints re-admit (dedup-window trade)") {
    import graft.streaming.{DedupVerdict, StreamingDedup}
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    val root = tempDir("graft-ttl").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "docs", 1)
    store.appendSegment("proj", "docs", 0, "first",
      Seq(LogRecord(1700000000, "t", "s", Map.empty,
        Map("doc" -> "1", "text" -> "same text"))))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    locally {
      val outRoot = tempDir("graft-ttl-out").toString
      new EmbeddedLogStore(outRoot).createStore("proj", "verdicts", 1)
      val ckpt = tempDir("ckpt-ttl").toString
      // logstore sink (memory sink cannot recover a checkpoint).
      //
      // NOT Trigger.AvailableNow: a processing-time-TTL'd stateful
      // operator reports shouldRunAnotherBatch=true unconditionally
      // (state may expire at any wall-clock instant), so AvailableNow
      // never terminates — it spins empty housekeeping micro-batches
      // (observed: epoch 580 in 60 s) until a timeout force-stops it
      // mid-commit, aborting a RocksDB snapshot upload and a sink epoch
      // into the log. A long ProcessingTime trigger runs the data batch
      // at t=0, then parks the stream thread for 60 s — polling the
      // committed sink and stopping inside that idle window is a clean
      // between-batches stop.
      def runOnce(expect: Int): Unit = {
        val q = StreamingDedup.exact(
          s2.readStream.format("graft-logstore")
            .option("store.root", root).option("store.project", "proj")
            .option("store.name", "docs")
            .schema("doc LONG, text STRING").load()
            .selectExpr("md5(text) AS fp", "doc")
            .as[(String, Long)],
          ttl = java.time.Duration.ofMillis(100),
          timeMode = TimeMode.ProcessingTime())
          .toDF("doc_id", "fp", "is_dup")
          .writeStream.format("graft-logstore")
          .option("store.root", outRoot).option("store.project", "proj")
          .option("store.name", "verdicts")
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime("60 seconds")).start()
        try {
          // Wait for the sink rows AND the engine's progress event: the
          // event fires after the commit-log write, so a stop() here
          // cannot strand a sink-committed-but-engine-uncommitted epoch
          // whose restart replay would push the next run's data batch
          // out to the second 60 s tick.
          val deadline = System.currentTimeMillis() + 45000
          while ((verdicts().length < expect || q.lastProgress == null) &&
              System.currentTimeMillis() < deadline)
            Thread.sleep(200)
          assert(verdicts().length >= expect,
            s"sink never reached $expect verdicts")
        } finally {
          q.stop() // stream thread parked until the next 60 s tick
          q.awaitTermination(30000)
        }
      }
      def verdicts(): Seq[(Long, Boolean)] =
        spark.read.format("graft-logstore")
          .option("store.root", outRoot).option("store.project", "proj")
          .option("store.name", "verdicts")
          .schema("doc_id LONG, is_dup BOOLEAN").load()
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      runOnce(expect = 1) // admits doc 1
      assert(verdicts() === Seq((1L, false)))
      Thread.sleep(2000) // well past the 100 ms TTL
      // a duplicate of doc 1's text arrives after the window
      store.appendSegment("proj", "docs", 0, "second",
        Seq(LogRecord(1700000100, "t", "s", Map.empty,
          Map("doc" -> "2", "text" -> "same text"))))
      runOnce(expect = 2)
      // state for the fingerprint expired between runs: doc 2 re-admits
      assert(verdicts() === Seq((1L, false), (2L, false)))
    }
  }

  test("transformWithState event-time timers: sessions close mid-stream " +
      "as the watermark passes their deadline (timer re-arm across batches)") {
    import graft.streaming.SessionTimers
    import spark.implicits._
    val root = tempDir("graft-timers").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "ev", 1)
    // user 1: five events 100..104 (one session), then 3000 (a new
    // session: 3000 - 104 > 1800); user 2: a single event; sentinel
    // key -1 far in the future closes everything. Paced 2 records per
    // trigger, so the first session's timer is REGISTERED, REPLACED
    // four times (deadline moves 1900 -> 1904), and finally FIRES on
    // the batch whose watermark (2999) passes 1904 — before the
    // flush sentinel arrives.
    val ts = Seq(1L -> 100L, 1L -> 101L, 1L -> 102L, 1L -> 103L,
      1L -> 104L, 2L -> 500L, 1L -> 3000L, -1L -> 100000L)
    store.appendSegment("proj", "ev", 0, "all",
      ts.map { case (u, t) => LogRecord(t.toInt, "t", "s", Map.empty,
        Map("user" -> u.toString)) })
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val tupEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    implicit val sessEnc: org.apache.spark.sql.Encoder[graft.streaming.TimedSession] =
      org.apache.spark.sql.Encoders.product[graft.streaming.TimedSession]
    val src = s2.readStream.format("graft-logstore")
      .option("store.root", root).option("store.project", "proj")
      .option("store.name", "ev")
      .option("maxoffsetspertrigger", "2")
      .schema("user LONG, __time__ TIMESTAMP").load()
      .withWatermark("__time__", "1 second")
      .selectExpr("user", "CAST(__time__ AS LONG) AS t")
      .as[(Long, Long)]
    val q = SessionTimers.sessions(src, gapS = 1800L)
      .writeStream.format("memory").queryName("t_timers")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tempDir("ckpt-timers").toString)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3) // really paced
    val out = s2.table("t_timers")
      .as[graft.streaming.TimedSession]
      .collect().filter(_.userId >= 0)
      .sortBy(s => (s.userId, s.sessionStart))
    assert(out.toSeq === Seq(
      graft.streaming.TimedSession(1L, 100L, 1904L, 5L),
      graft.streaming.TimedSession(1L, 3000L, 4800L, 1L),
      graft.streaming.TimedSession(2L, 500L, 2300L, 1L)))
  }

  test("dropDuplicatesWithinWatermark: in-window dups drop, evicted keys re-admit") {
    // The engine-native bounded-state dedup (c20's operator) crossing
    // its eviction boundary: a duplicate INSIDE the watermark delay is
    // dropped; once the event-time watermark passes a key's last-seen
    // time its state evicts, and a later duplicate re-admits — the
    // state-size-for-dedup-window trade a 100 TB ingest makes.
    val root = tempDir("graft-wmdedup").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "docs", 1)
    val t0 = 1700000000
    def append(seg: String, recs: (Long, Int, String)*): Unit =
      store.appendSegment("proj", "docs", 0, seg,
        recs.map { case (doc, ts, text) =>
          LogRecord(ts, "t", "s", Map.empty,
            Map("doc" -> doc.toString, "text" -> text)) })
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val outRoot = tempDir("graft-wmdedup-out").toString
    new EmbeddedLogStore(outRoot).createStore("proj", "kept", 1)
    val ckpt = tempDir("ckpt-wmdedup").toString
    // logstore sink: the run resumes from the checkpoint (memory can't)
    def runOnce(): Unit = {
      val q = s2.readStream.format("graft-logstore")
        .option("store.root", root).option("store.project", "proj")
        .option("store.name", "docs")
        .schema("doc LONG, text STRING, __time__ TIMESTAMP").load()
        .selectExpr("doc", "md5(text) AS fp", "__time__ AS ts")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("fp")
        .select(col("doc"), col("fp"))
        .writeStream.format("graft-logstore")
        .option("store.root", outRoot).option("store.project", "proj")
        .option("store.name", "kept")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q)
    }
    def kept(): Seq[Long] =
      spark.read.format("graft-logstore")
        .option("store.root", outRoot).option("store.project", "proj")
        .option("store.name", "kept")
        .schema("doc LONG, fp STRING").load()
        .orderBy("doc").collect().map(_.getLong(0)).toSeq
    // run 1: first arrival admits; a duplicate 300 s later (inside the
    // 600 s delay) drops — the core in-window guarantee
    append("seg0", (1L, t0, "same text"), (2L, t0 + 300, "same text"))
    runOnce()
    assert(kept() === Seq(1L))
    // run 2: an unrelated key advances the event-time watermark far
    // past key 1's expiry (t0 + 300 + 600)
    append("seg1", (3L, t0 + 100000, "other text"))
    runOnce()
    assert(kept() === Seq(1L, 3L))
    // run 3: key 1's state was evicted by the watermark — the same
    // fingerprint re-admits (the state-size-for-dedup-window trade)
    append("seg2", (4L, t0 + 200000, "same text"))
    runOnce()
    assert(kept() === Seq(1L, 3L, 4L))
  }
}
