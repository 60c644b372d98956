package graft

import graft.connector.RowConverters
import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ConnectorSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    tempDir("graft-store").toString

  private def seed(root: String, n: Int = 20): Unit = {
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    val recs = (0 until n).map { i =>
      LogRecord(1700000000 + i, "topicA", "src1", Map("env" -> "test"),
        Map("msg" -> i.toString, "level" -> (if (i % 2 == 0) "INFO" else "WARN")))
    }
    store.appendSegment("proj", "logs", 0, "seed", recs.filter(_.time % 2 == 0))
    store.appendSegment("proj", "logs", 1, "seed", recs.filter(_.time % 2 == 1))
  }

  private def readOpts(root: String) =
    Map("store.root" -> root, "store.project" -> "proj", "store.name" -> "logs")

  test("batch read with user schema, typed casting and metadata columns") {
    val root = freshRoot(); seed(root)
    val df = spark.read.format("graft-logstore").options(readOpts(root))
      .schema("msg INT, level STRING, __shard__ INT, __time__ TIMESTAMP, `__tag__:env` STRING")
      .load()
    assert(df.count() === 20)
    assert(df.agg(sum("msg")).first().getLong(0) === (0 until 20).sum)
    assert(df.select("__shard__").distinct().collect().map(_.getInt(0)).sorted
      === Array(0, 1))
    assert(df.filter(col("`__tag__:env`") === "test").count() === 20)
    val t = df.agg(min(col("__time__").cast("long"))).first().getLong(0)
    assert(t === 1700000000L)
  }

  test("default schema packs contents+tags as JSON in __value__") {
    val root = freshRoot(); seed(root)
    val df = spark.read.format("graft-logstore").options(readOpts(root)).load()
    assert(df.schema === RowConverters.DefaultSchema)
    val parsed = df.select(
      get_json_object(col("__value__"), "$.msg").cast("int").as("msg"),
      get_json_object(col("__value__"), "$['__tag__:env']").as("env"))
    assert(parsed.agg(sum("msg")).first().getLong(0) === (0 until 20).sum)
    assert(parsed.filter(col("env") === "test").count() === 20)
  }

  test("batch write routes via __shard__ and round-trips") {
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    import spark.implicits._
    val df = (0 until 10).map(i => (i % 2, 1700000100 + i, s"m$i"))
      .toDF("__shard__", "__time__", "payload")
    df.write.format("graft-logstore").options(readOpts(root)).mode("append").save()
    val back = spark.read.format("graft-logstore").options(readOpts(root))
      .schema("payload STRING, __shard__ INT, __time__ TIMESTAMP").load()
    assert(back.count() === 10)
    assert(back.groupBy("__shard__").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap === Map(0 -> 5, 1 -> 5))
  }

  test("an out-of-range __shard__ fails the write loudly, not silently") {
    // a shard no reader lists would be silent data loss (readers fold
    // shards 0..n-1 from the manifest) — the task must fail instead
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 2)
    import spark.implicits._
    for (bad <- Seq(-1, 2)) {
      val df = Seq((bad, 1700000100, "m")).toDF("__shard__", "__time__", "payload")
      val e = intercept[Exception] {
        df.write.format("graft-logstore").options(readOpts(root))
          .mode("append").save()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("not a writable shard")), e.getMessage)
    }
  }

  test("UDT column round-trips through its sqlType representation") {
    // reference recurses on UserDefinedType.sqlType (Utils.scala:145-146);
    // our converters mirror that on both read and write
    val root = freshRoot()
    new EmbeddedLogStore(root).createStore("proj", "logs", 1)
    val udt = new TemperatureUDT
    val schema = StructType(Seq(
      StructField("__shard__", IntegerType),
      StructField("__time__", TimestampType),
      StructField("temp", udt)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, new java.sql.Timestamp(1700000100L * 1000), Temperature(21.5)),
        org.apache.spark.sql.Row(0, new java.sql.Timestamp(1700000101L * 1000), Temperature(-7.25)))
    spark.createDataFrame(rows, schema)
      .write.format("graft-logstore").options(readOpts(root)).mode("append").save()
    val back = spark.read.format("graft-logstore").options(readOpts(root))
      .schema(StructType(Seq(StructField("temp", udt)))).load()
      .collect().map(_.getAs[Temperature]("temp")).sortBy(_.degrees)
    assert(back.toSeq === Seq(Temperature(-7.25), Temperature(21.5)))
  }

  test("bounded offsets json with sentinels") {
    val root = freshRoot(); seed(root)
    val df = spark.read.format("graft-logstore").options(readOpts(root))
      .option("startingoffsets", """{"proj#logs":{"0":2,"1":-2}}""")
      .option("endingoffsets", """{"proj#logs":{"0":-1,"1":5}}""")
      .schema("msg INT, __shard__ INT").load()
    // shard 0 has 10 records: ordinals 2..10 → 8; shard 1: 0..5 → 5
    assert(df.filter(col("__shard__") === 0).count() === 8)
    assert(df.filter(col("__shard__") === 1).count() === 5)
  }

  test("batch validation: start=latest and end=earliest rejected") {
    val root = freshRoot(); seed(root)
    val e1 = intercept[Exception] {
      spark.read.format("graft-logstore").options(readOpts(root))
        .option("startingoffsets", "latest").schema("msg INT").load().count()
    }
    assert(e1.getMessage.contains("latest") || e1.getCause != null)
    val e2 = intercept[Exception] {
      spark.read.format("graft-logstore").options(readOpts(root))
        .option("endingoffsets", "earliest").schema("msg INT").load().count()
    }
    assert(e2.getMessage.contains("earliest") || e2.getCause != null)
  }

  test("missing required option error") {
    val e = intercept[Exception] {
      spark.read.format("graft-logstore")
        .option("store.project", "p").load().count()
    }
    assert(e.getMessage.contains("store.root") ||
      e.getCause.getMessage.contains("store.root"))
  }

  test("shard split: parent readonly, writers avoid it, readers drain it") {
    val root = freshRoot(); seed(root)
    val store = new EmbeddedLogStore(root)
    val (c1, c2) = store.splitShard("proj", "logs", 0)
    assert(Set(c1, c2) === Set(2, 3))
    assert(store.listShards("proj", "logs").find(_.id == 0).get.readOnly)
    // parent data still readable
    val df = spark.read.format("graft-logstore").options(readOpts(root))
      .schema("msg INT, __shard__ INT").load()
    assert(df.filter(col("__shard__") === 0).count() === 10)
    // new writes only land on writable shards
    import spark.implicits._
    (0 until 8).map(i => (1700000200 + i, s"n$i")).toDF("__time__", "payload")
      .write.format("graft-logstore").options(readOpts(root)).mode("append").save()
    val shards = spark.read.format("graft-logstore").options(readOpts(root))
      .schema("payload STRING, __shard__ INT").load()
      .filter(col("payload").startsWith("n"))
      .select("__shard__").distinct().collect().map(_.getInt(0)).toSet
    assert(!shards.contains(0))
  }

  test("a re-executed batch DataFrame re-resolves 'latest' and sees new data") {
    // reference LoghubRelationSuite:94-125: offset limits re-evaluate on
    // each read, so the same relation picks up later appends
    val root = freshRoot()
    seed(root, 10)
    val df = spark.read.format("graft-logstore").options(readOpts(root))
      .schema("msg INT").load()
    assert(df.count() === 10)
    new EmbeddedLogStore(root).appendSegment("proj", "logs", 0, "more",
      (100 until 105).map(i => LogRecord(1700000000 + i, "t", "s",
        Map.empty, Map("msg" -> i.toString))))
    assert(df.count() === 15) // same DataFrame, fresh offset resolution
  }

  test("exact-ordinal cursors encode/decode") {
    assert(EmbeddedLogStore.decodeCursor(EmbeddedLogStore.encodeCursor(12345L)) === 12345L)
  }

  test("offset json format matches reference shape") {
    val o = graft.connector.LogServiceOffset("logProject-A", "logStore-B",
      Map(0 -> 1409569200L, 1 -> 1409569201L))
    assert(o.json() === """{"logProject-A#logStore-B":{"0":1409569200,"1":1409569201}}""")
    assert(graft.connector.LogServiceOffset.parse(o.json()) === o)
  }

  test("snapshot read: version pin, head clamp, compaction loss, stream reject") {
    val root = freshRoot()
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    def recs(lo: Int, hi: Int) = (lo until hi).map(i =>
      LogRecord(1700000000 + i, "t", "s", Map.empty, Map("msg" -> i.toString)))
    store.appendSegment("proj", "logs", 0, "a", recs(0, 10)) // v1
    val v1 = store.latestVersion("proj", "logs")
    store.appendSegment("proj", "logs", 1, "b", recs(10, 30)) // v2
    def readAt(v: Long) = spark.read.format("graft-logstore")
      .options(readOpts(root)).option("store.snapshotversion", v.toString)
      .schema("msg INT").load()
    // pinned at v1: exactly the first commit, later appends invisible
    assert(readAt(v1).count() === 10)
    assert(readAt(v1).agg(sum("msg")).first().getLong(0) === (0 until 10).sum)
    // version 0 = empty store; any version above head reads the head
    assert(readAt(0).count() === 0)
    assert(readAt(99).count() === 30)
    // compaction folds v1-v2 into a checkpoint and deletes the deltas:
    // the pre-compaction version must fail loudly, not read wrong data
    store.compactManifests("proj", "logs")
    assert(readAt(99).count() === 30) // post-compaction head still whole
    val e = intercept[Throwable](readAt(v1).count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("predates")))
    // a stream must not accept the batch-only snapshot option
    val ckpt = tempDir("graft-snap-ckpt").toString
    val q = spark.readStream.format("graft-logstore").options(readOpts(root))
      .option("store.snapshotversion", "1").schema("msg INT").load()
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val se = intercept[Throwable](q.awaitTermination())
    assert(msgs(se).exists(_.contains("batch-only")))
  }

  test("streamingQueries set stays consistent with the catalog") {
    import graft.queries.ConnectorQueries
    val names = ConnectorQueries.queries.keySet
    // every classified name must exist (a rename can't orphan the set)
    assert(ConnectorQueries.streamingQueries.subsetOf(names),
      s"unknown names: ${ConnectorQueries.streamingQueries.diff(names)}")
    // naming convention holds, with c4 (streams without `_stream_` in
    // the name) the one documented exception — a NEW exception means
    // the set wasn't updated alongside the catalog
    val byName = names.filter(_.contains("_stream_"))
    assert(ConnectorQueries.streamingQueries.diff(byName) ===
      Set("c4_split_reroute"))
    assert(byName.subsetOf(ConnectorQueries.streamingQueries),
      s"_stream_ queries missing: ${byName.diff(ConnectorQueries.streamingQueries)}")
  }
}

/** Minimal UDT for the round-trip test: carried as its DoubleType
  * sqlType on the wire. */
case class Temperature(degrees: Double)

class TemperatureUDT extends UserDefinedType[Temperature] {
  override def sqlType: DataType = DoubleType
  override def serialize(t: Temperature): Any = t.degrees
  override def deserialize(datum: Any): Temperature =
    Temperature(datum.asInstanceOf[Double])
  override def userClass: Class[Temperature] = classOf[Temperature]
}
