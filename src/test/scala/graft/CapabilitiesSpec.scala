package graft

import graft.operators.Similarity
import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Remaining §2.5 capability patterns exercised end-to-end over the
  * connector: typed Dataset map/flatMap (the reference wordcount,
  * StructuredLoghubWordCount.scala:77) and foreachBatch + limit +
  * table insert (StructuredLoghubSinkHive.scala:72-78). Plus IVF ANN
  * recall structure. */
class CapabilitiesSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def seeded(): String = {
    val root = tempDir("graft-cap").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    store.appendSegment("proj", "logs", 0, "a",
      Seq("spark makes logs fast", "logs make spark useful", "fast logs")
        .zipWithIndex.map { case (s, i) =>
          LogRecord(1700000000 + i, "t", "s", Map.empty, Map("content" -> s)) })
    root
  }

  private def opts(root: String) = Map("store.root" -> root,
    "store.project" -> "proj", "store.name" -> "logs")

  test("typed Dataset flatMap wordcount over the streaming source") {
    import spark.implicits._
    val root = seeded()
    val q = spark.readStream.format("graft-logstore").options(opts(root))
      .schema("content STRING").load()
      .as[String]
      .flatMap(_.split(" "))
      .groupBy(col("value").as("word")).count()
      .writeStream.format("memory").queryName("t_wc").outputMode("complete")
      .option("checkpointLocation", tempDir("ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val counts = spark.table("t_wc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("logs") === 3 && counts("spark") === 2 && counts("fast") === 2)
  }

  test("foreachBatch with limit + insert into a table") {
    val root = seeded()
    spark.sql("DROP TABLE IF EXISTS t_sink")
    spark.sql("CREATE TABLE t_sink (content STRING) USING parquet")
    val q = spark.readStream.format("graft-logstore").options(opts(root))
      .schema("content STRING").load()
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        ds.limit(2).write.insertInto("t_sink")
      }
      .option("checkpointLocation", tempDir("ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    assert(spark.table("t_sink").count() === 2)
    spark.sql("DROP TABLE t_sink")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse locations persist — clear them for rerunnability
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (dir.isDirectory) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // force the shuffle-vs-bucket decision to matter: without the
    // broadcast shortcut, matching bucket layouts must elide BOTH
    // shuffles of a sort-merge join
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      val expected = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    spark.sql("DROP TABLE b_orders"); spark.sql("DROP TABLE b_lineitem")
  }

  test("native session_window streaming aggregation matches the batch gap logic") {
    val root = tempDir("graft-sess").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    // user 1: events at 0,10,100 s (30s gap → two sessions: {0,10}, {100})
    store.appendSegment("proj", "logs", 0, "a", Seq(0, 10, 100).map(t =>
      LogRecord(1700000000 + t, "t", "s", Map.empty, Map("uid" -> "1"))))
    val ckpt = tempDir("ckpt").toString
    val q = spark.readStream.format("graft-logstore").options(opts(root))
      .schema("uid INT, __time__ TIMESTAMP").load()
      .withWatermark("__time__", "10 minutes")
      .groupBy(session_window(col("__time__"), "30 seconds"), col("uid"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").cast("long").as("ss"), col("uid"), col("n"))
      .writeStream.format("memory").queryName("t_sess").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val rows = spark.table("t_sess").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows === Map(1700000000L -> 2L, 1700000100L -> 1L))
  }

  test("salted join equals plain join on skewed keys") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey").as("k"), col("l_quantity"), col("l_orderkey"))
    val s = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey").as("k"), col("s_name"))
    val plain = li.join(s, "k")
    val salted = graft.operators.Skew.saltedJoin(li, s, "k", salts = 8)
    assert(salted.count() === plain.count())
    val h = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("k"), col("l_orderkey"), col("s_name"))
      .selectExpr("sum(cast(xxhash64(struct(*)) as decimal(38,0))) h").first()
    assert(h(salted) === h(plain))
  }

  test("approx_count_distinct tracks exact within 5%") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).first()
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("ivf knn: contiguous ranks, no self matches, recall recorded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val ivf = Similarity.ivfKnn(emb, q, k = 4)
    assert(ivf.filter(col("neighbor_id") === col("query_id")).count() === 0)
    val perQuery = ivf.groupBy("query_id").agg(collect_list("rank").as("rs"))
      .select(array_sort(col("rs")).as("rs")).collect()
    perQuery.foreach { r =>
      val rs = r.getSeq[Int](0)
      assert(rs === (1 to rs.size)) // contiguous from 1
    }
    val brute = Similarity.bruteForceKnn(emb, q, k = 4)
      .select("query_id", "neighbor_id")
    val hits = brute.intersect(ivf.select("query_id", "neighbor_id")).count()
    info(s"IVF recall@4 = $hits/${brute.count()}")
    assert(hits >= 1)
  }
}
