package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured-streaming scenarios over the embedded store — hermetic port
  * of the reference's LoghubMicroBatchSourceSuite patterns (earliest /
  * latest starts, incremental batches, recovery, admission control, shard
  * split, watermark+window, stream-stream self-join, sink idempotence). */
class StreamingSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String = tempDir("graft-ss").toString

  private def opts(root: String) = Map("store.root" -> root,
    "store.project" -> "proj", "store.name" -> "logs")

  private def addData(root: String, shard: Int, seg: String, values: Seq[Int],
      baseTime: Int = 1700000000): Unit =
    new EmbeddedLogStore(root).appendSegment("proj", "logs", shard, seg,
      values.map(v => LogRecord(baseTime + v, "t", "s", Map.empty,
        Map("msg" -> v.toString))))

  private def streamDf(root: String, extra: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("graft-logstore").options(opts(root) ++ extra)
      .schema("msg INT, __shard__ INT, __time__ TIMESTAMP").load()

  private def runToMemory(df: DataFrame, name: String, ckpt: String,
      mode: String = "append") = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    q
  }

  /** Run stream → logstore sink (checkpoint-recoverable) and return a
    * batch reader over the sink store. */
  private def runToSink(df: DataFrame, dstRoot: String, ckpt: String,
      sinkExtra: Map[String, String] = Map.empty): Unit = {
    val q = df.selectExpr("msg", "__time__")
      .writeStream.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out").options(sinkExtra)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
  }

  private def sinkTable(dstRoot: String): DataFrame =
    spark.read.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out").schema("msg INT").load()

  private def newSink(): String = {
    val dst = freshRoot()
    new EmbeddedLogStore(dst).createStore("proj", "out", 1)
    dst
  }

  test("earliest start reads existing + incremental data across restarts") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    addData(root, 0, "a", 1 to 5)
    addData(root, 1, "a", 6 to 10)
    val ckpt = tempDir("ckpt").toString
    val dst = newSink()
    runToSink(streamDf(root), dst, ckpt)
    assert(sinkTable(dst).count() === 10)
    // restart from checkpoint picks up only new data
    addData(root, 0, "b", 11 to 13)
    runToSink(streamDf(root), dst, ckpt)
    assert(sinkTable(dst).count() === 13)
    assert(sinkTable(dst).agg(sum("msg")).first().getLong(0) === (1 to 13).sum)
  }

  test("checkpointed offsets survive segment compaction mid-stream") {
    // ordinal-addressed offsets must mean the same thing after the
    // small-files rewrite: stream part of the backlog, OPTIMIZE the
    // source (every original segment merges away), append more, resume
    // from the same checkpoint — no loss, no duplication
    val root = freshRoot()
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 2)
    (0 until 6).foreach(i => addData(root, i % 2, s"seg$i", Seq(i)))
    val ckpt = tempDir("ckpt").toString
    val dst = newSink()
    // pace to leave offsets mid-backlog at the first stop
    runToSink(streamDf(root, Map("maxoffsetspertrigger" -> "2")), dst, ckpt)
    assert(sinkTable(dst).count() === 6)
    addData(root, 0, "late", Seq(50, 51))
    s.compactSegments("proj", "logs", targetRecords = 100)
    // shard 0's four segments merged into ONE file (5 records) — the
    // checkpointed offset (3) now points into the MIDDLE of it
    assert(s.listSegments("proj", "logs", 0).size === 1)
    assert(s.listSegments("proj", "logs", 0).head.count === 5L)
    runToSink(streamDf(root, Map("maxoffsetspertrigger" -> "2")), dst, ckpt)
    assert(sinkTable(dst).count() === 8)
    assert(sinkTable(dst).agg(sum("msg")).first().getLong(0) ===
      (0 until 6).sum + 50 + 51)
  }

  test("sink auto-compaction bounds small files across epochs") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    addData(root, 0, "a", 1 to 20)
    addData(root, 1, "b", 21 to 40)
    val ckpt = tempDir("ckpt").toString
    val dst = newSink()
    // 2 records per trigger → ~20 epochs → ~20+ tiny sink segments
    // without maintenance; the threshold folds them as they accumulate
    runToSink(streamDf(root, Map("maxoffsetspertrigger" -> "2")), dst, ckpt,
      Map("store.autocompact.segments" -> "4"))
    val sink = new EmbeddedLogStore(dst)
    val segs = sink.listSegments("proj", "out", 0)
    assert(segs.size <= 4, s"auto-compaction left ${segs.size} segments: $segs")
    // and not one record lost or duplicated by the rewrites
    assert(sinkTable(dst).count() === 40)
    assert(sinkTable(dst).agg(sum("msg")).first().getLong(0) === (1 to 40).sum)
  }

  test("latest start skips pre-existing data") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    addData(root, 0, "old", 1 to 5)
    val ckpt = tempDir("ckpt").toString
    val dst = newSink()
    runToSink(streamDf(root, Map("startingoffsets" -> "latest")), dst, ckpt)
    assert(sinkTable(dst).count() === 0)
    addData(root, 0, "new", 6 to 8)
    runToSink(streamDf(root, Map("startingoffsets" -> "latest")), dst, ckpt)
    assert(sinkTable(dst).collect().map(_.getInt(0)).sorted === Array(6, 7, 8))
  }

  test("maxoffsetspertrigger paces admission across micro-batches") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    addData(root, 0, "a", 1 to 50)
    addData(root, 1, "a", 51 to 100)
    val ckpt = tempDir("ckpt").toString
    val q = streamDf(root, Map("maxoffsetspertrigger" -> "20"))
      .writeStream.format("memory").queryName("t_paced")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    // all data arrives, over >= 5 micro-batches of <= 20
    assert(spark.table("t_paced").count() === 100)
    val progress = q.recentProgress
    assert(progress.count(_.numInputRows > 0) >= 5)
    assert(progress.forall(_.numInputRows <= 20))
  }

  test("Long.MaxValue budget does not overflow (SPARK-26718 semantics)") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    addData(root, 0, "a", 1 to 10)
    val ckpt = tempDir("ckpt").toString
    runToMemory(streamDf(root,
      Map("maxoffsetspertrigger" -> Long.MaxValue.toString)), "t_big", ckpt)
    assert(spark.table("t_big").count() === 10)
  }

  test("shard split mid-stream: children picked up at earliest, parent drains") {
    val root = freshRoot()
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    addData(root, 0, "a", 1 to 4)
    addData(root, 1, "a", 5 to 8)
    val ckpt = tempDir("ckpt").toString
    val dst = newSink()
    runToSink(streamDf(root), dst, ckpt)
    assert(sinkTable(dst).count() === 8)
    store.splitShard("proj", "logs", 0)
    addData(root, 2, "b", 9 to 10)
    addData(root, 3, "b", 11 to 12)
    runToSink(streamDf(root), dst, ckpt)
    assert(sinkTable(dst).count() === 12)
    assert(sinkTable(dst).agg(sum("msg")).first().getLong(0) === (1 to 12).sum)
  }

  test("watermark + tumbling window aggregation") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 1)
    // two 5-second windows: values 0..4 and 10..14 seconds
    addData(root, 0, "a", Seq(0, 1, 2, 10, 11))
    val ckpt = tempDir("ckpt").toString
    val agg = streamDf(root)
      .withWatermark("__time__", "10 seconds")
      .groupBy(window(col("__time__"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("n"))
    runToMemory(agg, "t_window", ckpt, mode = "complete")
    val rows = spark.table("t_window").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(1700000000L -> 3L, 1700000010L -> 2L))
  }

  test("stream-stream self-join on key") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    addData(root, 0, "a", 1 to 6)
    val ckpt = tempDir("ckpt").toString
    val base = streamDf(root)
      .selectExpr("msg AS value", "msg % 3 AS key", "__time__")
    val joined = base.select("key", "value")
      .join(base.selectExpr("key", "value AS value2"), "key")
    runToMemory(joined, "t_selfjoin", ckpt)
    // keys 1,2 appear twice, key 0 twice → each key yields 2x2 pairs
    assert(spark.table("t_selfjoin").count() === 12)
  }

  test("events table end-to-end: ingest to store, stream out, window agg matches batch") {
    // the events table is the streaming stand-in (FIXTURES.md §5): load it,
    // route into shards through the writer, stream it back with pacing,
    // and check the windowed aggregation against the batch answer.
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("CAST(user_id % 2 AS INT) AS __shard__",
        "CAST(CAST(ts AS TIMESTAMP) AS INT) AS __time__", "event_type", "value")
    ev.write.format("graft-logstore").options(opts(root)).mode("append").save()
    val ckpt = tempDir("ckpt").toString
    val agg = spark.readStream.format("graft-logstore").options(opts(root))
      .option("maxoffsetspertrigger", "200")
      .schema("event_type STRING, value DOUBLE, __time__ TIMESTAMP").load()
      .withWatermark("__time__", "1 hour")
      .groupBy(window(col("__time__"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("event_type"), col("n"))
    runToMemory(agg, "t_events_e2e", ckpt, mode = "complete")
    val streamed = spark.table("t_events_e2e").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = ev.selectExpr("(__time__ DIV 3600) * 3600 AS ws", "event_type")
      .groupBy("ws", "event_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("streaming dedup with dropDuplicatesWithinWatermark") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 1)
    // same msg ids appended twice within the watermark horizon
    addData(root, 0, "a", Seq(1, 2, 3))
    addData(root, 0, "b", Seq(2, 3, 4))
    val ckpt = tempDir("ckpt").toString
    val deduped = streamDf(root)
      .withWatermark("__time__", "1 hour")
      .dropDuplicatesWithinWatermark("msg")
    runToMemory(deduped, "t_dedup", ckpt)
    assert(spark.table("t_dedup").select("msg").collect()
      .map(_.getInt(0)).sorted === Array(1, 2, 3, 4))
  }

  test("Update-mode aggregation written to the logstore sink") {
    // reference scenario: streaming agg in Update mode into the sink
    // (LoghubSinkSuite.scala:171-202) — the sink receives the changed
    // (key, count) rows per epoch; the log then holds the update history
    // and the latest row per key is the final answer.
    val srcRoot = freshRoot(); val dstRoot = freshRoot()
    new EmbeddedLogStore(srcRoot).createStore("proj", "logs", 1)
    new EmbeddedLogStore(dstRoot).createStore("proj", "out", 1)
    addData(srcRoot, 0, "a", Seq(1, 2, 3, 11, 12, 21)) // keys msg%10
    val ckpt = tempDir("ckpt").toString
    val q = streamDf(srcRoot, Map("maxoffsetspertrigger" -> "2")) // several epochs
      .selectExpr("msg % 10 AS key")
      .groupBy("key").count()
      .selectExpr("CAST(key AS STRING) AS key", "CAST(count AS STRING) AS cnt",
        "CAST(1700000000 AS TIMESTAMP) AS __time__")
      .writeStream.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val hist = spark.read.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out")
      .option("appendsequencenumber", "true")
      .schema("key INT, cnt INT, __shard__ INT, __sequence_number__ STRING")
      .load()
    // latest update per key (by shard ordinal) = final counts
    import org.apache.spark.sql.expressions.Window
    val latest = hist
      .withColumn("ord", // global ordinal = segment base + in-segment index
        split(col("__sequence_number__"), "-")(0).cast("long") +
          split(col("__sequence_number__"), "-")(1).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("ord").desc)))
      .filter(col("rn") === 1)
      .select("key", "cnt")
    val got = latest.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got === Map(1 -> 3, 2 -> 2, 3 -> 1))
  }

  test("stream-stream interval join with watermarks matches the batch answer") {
    // the streaming analogue of q13: views joined to purchases within
    // one hour, both sides watermarked so join state is bounded
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 1)
    val store = new EmbeddedLogStore(root)
    // events: (user, type, t): purchases at +30min and +90min of views
    val recs = Seq(
      (1, "view", 0), (1, "purchase", 1800), (1, "purchase", 5400),
      (2, "view", 0), (2, "view", 600), (2, "purchase", 900),
      (3, "purchase", 100)) // purchase with no prior view
    store.appendSegment("proj", "logs", 0, "a", recs.map { case (u, ty, dt) =>
      LogRecord(1700000000 + dt, "t", "s", Map.empty,
        Map("uid" -> u.toString, "etype" -> ty))
    })
    val ckpt = tempDir("ckpt").toString
    val src = spark.readStream.format("graft-logstore").options(opts(root))
      .schema("uid INT, etype STRING, __time__ TIMESTAMP").load()
    val views = src.filter(col("etype") === "view")
      .select(col("uid").as("v_uid"), col("__time__").as("v_t"))
      .withWatermark("v_t", "2 hours")
    val purchases = src.filter(col("etype") === "purchase")
      .select(col("uid").as("p_uid"), col("__time__").as("p_t"))
      .withWatermark("p_t", "2 hours")
    val joined = views.join(purchases,
      col("v_uid") === col("p_uid") &&
      col("p_t") > col("v_t") &&
      col("p_t") <= col("v_t") + expr("INTERVAL 1 HOUR"))
    val q = joined.select(col("v_uid"), col("v_t").cast("long"),
        col("p_t").cast("long"))
      .writeStream.format("memory").queryName("t_ssij")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val got = spark.table("t_ssij").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // user 1: only the +30min purchase joins; user 2: both views see the
    // purchase at 900 (each within the hour); user 3: nothing
    assert(got === Set(
      (1, 1700000000L, 1700001800L),
      (2, 1700000000L, 1700000900L),
      (2, 1700000600L, 1700000900L)))
  }

  test("append mode drops late data beyond the watermark") {
    val srcRoot = freshRoot(); val dstRoot = freshRoot()
    new EmbeddedLogStore(srcRoot).createStore("proj", "logs", 1)
    new EmbeddedLogStore(dstRoot).createStore("proj", "out", 1)
    val ckpt = tempDir("ckpt").toString
    def run(): Unit = {
      val agg = streamDf(srcRoot)
        .withWatermark("__time__", "10 seconds")
        .groupBy(window(col("__time__"), "5 seconds"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").cast("string").as("ws"),
          col("n").cast("string").as("n"),
          col("window.start").as("__time__"))
      val q = agg.writeStream.format("graft-logstore")
        .option("store.root", dstRoot).option("store.project", "proj")
        .option("store.name", "out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q)
    }
    // window [0,5) gets 3 events; value 100 pushes the watermark to 90,
    // finalizing [0,5)
    addData(srcRoot, 0, "a", Seq(0, 1, 2, 100))
    run()
    // a LATE event for [0,5) (watermark is 90) plus a fresh one to
    // finalize [100,105)
    addData(srcRoot, 0, "b", Seq(3, 200))
    run()
    val out = spark.read.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out").schema("ws LONG, n LONG").load()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // [0,5) emitted once with the pre-late count; the late row vanished
    assert(out(1700000000L) === 3L)
    assert(out(1700000100L) === 1L)
  }

  test("streaming sink to logstore: epoch replay is idempotent") {
    val srcRoot = freshRoot(); val dstRoot = freshRoot()
    new EmbeddedLogStore(srcRoot).createStore("proj", "logs", 1)
    new EmbeddedLogStore(dstRoot).createStore("proj", "out", 2)
    addData(srcRoot, 0, "a", 1 to 9)
    val ckpt = tempDir("ckpt").toString
    def writeOnce(): Unit = {
      val q = spark.readStream.format("graft-logstore").options(opts(srcRoot))
        .schema("msg INT, __time__ TIMESTAMP").load()
        .selectExpr("msg", "__time__")
        .writeStream.format("graft-logstore")
        .option("store.root", dstRoot).option("store.project", "proj")
        .option("store.name", "out")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q)
    }
    writeOnce()
    val read = () => spark.read.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out").schema("msg INT").load()
    assert(read().count() === 9)
    // replaying the identical epoch (fresh query, same segments) can't dup:
    // simulate a replay by re-running with a WIPED checkpoint — epochs
    // restart at 0 and overwrite the same segment names
    val ckpt2 = tempDir("ckpt").toString
    val q2 = spark.readStream.format("graft-logstore").options(opts(srcRoot))
      .schema("msg INT, __time__ TIMESTAMP").load()
      .selectExpr("msg", "__time__")
      .writeStream.format("graft-logstore")
      .option("store.root", dstRoot).option("store.project", "proj")
      .option("store.name", "out")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q2)
    assert(read().count() === 9) // overwritten, not appended
    assert(read().agg(sum("msg")).first().getLong(0) === (1 to 9).sum)
  }

  test("c23 streamed ANN routing: total coverage, sane cells, and csim " +
      "reconstructable from the batch-side centroids") {
    val sf = "/root/testdata/sf0.01"
    val out = graft.SparkEntry.queries("c23_stream_ann_route")(spark, sf)
      .collect()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    assert(out.length.toLong === n, "every streamed vector must route")
    assert(out.map(_.getLong(0)).distinct.length.toLong === n)
    val cells = out.map(_.getInt(1)).toSet
    assert(cells.forall(c => c >= 1 && c <= 16))
    assert(cells.size > 1, "a single cell would mean a degenerate argmax")
    // independent csim reconstruction for a sample: the streamed score
    // must equal dot(v, normalize(centroid)) computed batch-side
    val cs = graft.operators.Similarity.ivfCentroids(emb, 16)
    val byId = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleVec(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    out.filter(r => byId.contains(r.getLong(0))).foreach { r =>
      val v = byId(r.getLong(0))
      val cv = cs(r.getInt(1) - 1)
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * cv(i); i += 1 }
      assert(acc === r.getDouble(2),
        s"csim mismatch for vec ${r.getLong(0)}: $acc vs ${r.getDouble(2)}")
    }
  }
}
