package graft

import graft.connector.{LogScan, LogServiceOptions}
import graft.store.{EmbeddedLogStore, LogRecord}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** A pushed `__time__` predicate the scan answers exactly leaves no
  * `Filter` in the plan, so the scan's answer must be the predicate's:
  * every case is checked against the written records. */
class TimePushdownSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private val T0 = 1700000000
  private val Max = Int.MaxValue

  /** (msg, time): 2 shards x 4 segments x 25 records at T0 + 0..99, and
    * on shard 1 a segment at the last Int seconds. */
  private lazy val (root, written) = {
    val root = tempDir("graft-time").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    var msg = 0
    val all = Seq.newBuilder[(Int, Int)]
    def append(shard: Int, name: String, times: Seq[Int]): Unit =
      store.appendSegment("proj", "logs", shard, name, times.map { t =>
        msg += 1
        all += ((msg, t))
        LogRecord(t, "t", "s", Map.empty, Map("msg" -> msg.toString))
      })
    for (shard <- 0 to 1; seg <- 0 until 4)
      append(shard, s"s$seg", (0 until 25).map(i => T0 + seg * 25 + i))
    append(1, "late", Seq(Max - 1, Max, Max))
    (root, all.result())
  }

  private def df(ddl: String, opts: (String, String)*): DataFrame =
    spark.read.format("graft-logstore").option("store.root", root)
      .option("store.project", "proj").option("store.name", "logs")
      .options(opts.toMap).schema(ddl).load()

  private def hasFilter(d: DataFrame): Boolean =
    d.queryExecution.executedPlan.collect { case f: FilterExec => f }.nonEmpty

  /** The msgs `cond` selects equal the written records whose time `want`
    * admits; the plan keeps a `Filter` exactly when `exact` is false. */
  private def check(ddl: String, cond: Column, want: Int => Boolean,
      exact: Boolean = true): Unit = {
    val d = df(ddl).filter(cond).select("msg")
    val got = d.collect().map(_.getInt(0)).sorted.toSeq
    assert(got === written.collect { case (m, t) if want(t) => m }.sorted, cond)
    assert(hasFilter(d) === !exact, d.queryExecution.executedPlan)
  }

  private val Ts = "msg INT, __time__ TIMESTAMP"
  private def ts(s: Long, micros: Long = 0): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, micros * 1000)))
  private val t = col("__time__")

  test("a two-sided TIMESTAMP range runs with no Filter") {
    val d = df(Ts).filter(t >= ts(T0 + 10) && t < ts(T0 + 60))
    assert(!hasFilter(d), d.queryExecution.executedPlan)
    assert(d.queryExecution.executedPlan.toString
      .contains(s"timeRange=Some((${T0 + 10},${T0 + 60}))"))
    assert(d.count() === 100)
  }

  test("sub-millisecond TIMESTAMP literals under every comparison") {
    // T0 + 50 s + 500 µs: between two record seconds, below a millisecond
    val s = T0 + 50L
    val us = s * 1000000L + 500
    def micros(x: Int) = x * 1000000L
    check(Ts, t > ts(s, 500), x => micros(x) > us)
    check(Ts, t >= ts(s, 500), x => micros(x) >= us)
    check(Ts, t < ts(s, 500), x => micros(x) < us)
    check(Ts, t <= ts(s, 500), x => micros(x) <= us)
    check(Ts, t === ts(s, 500), x => micros(x) == us)
    check(Ts, t === ts(s), x => x == s)
    check(Ts, t > ts(s) && t <= ts(s + 7, 999999), x => x > s && x <= s + 7)
  }

  test("one-sided bounds, and a record at Int.MaxValue") {
    check(Ts, t >= ts(T0 + 90), _ >= T0 + 90)
    check(Ts, t > ts(T0 + 90), _ > T0 + 90)
    check(Ts, t <= ts(T0 + 5), _ <= T0 + 5)
    check(Ts, t < ts(T0 + 5), _ < T0 + 5)
    check(Ts, t === ts(Max), _ == Max)
    check(Ts, t >= ts(Max), _ == Max)
    check(Ts, t > ts(Max - 1), _ == Max)
    check(Ts, t <= ts(Max), _ => true)
    check(Ts, t > ts(Max), _ => false)
    // the starttime option alone leaves the upper side unbounded too
    assert(df(Ts, "starttime" -> (Max - 1).toString).count() === 3)
    assert(df(Ts, "starttime" -> Max.toString).count() === 2)
    assert(df(Ts, "endtime" -> (T0 + 10).toString).count() === 20)
  }

  test("BIGINT and INT __time__ compared with integral literals") {
    Seq("msg INT, __time__ BIGINT" -> ((x: Int) => lit(x.toLong)),
        "msg INT, __time__ INT" -> ((x: Int) => lit(x))).foreach { case (ddl, l) =>
      check(ddl, t >= l(T0 + 10) && t < l(T0 + 60), x => x >= T0 + 10 && x < T0 + 60)
      check(ddl, t > l(T0 + 98), _ > T0 + 98)
      check(ddl, t <= l(T0 + 3), _ <= T0 + 3)
      check(ddl, t === l(Max), _ == Max)
      check(ddl, t >= l(Max), _ == Max)
    }
    check("msg INT, __time__ BIGINT", t > lit(Long.MaxValue), _ => false)
    check("msg INT, __time__ BIGINT", t <= lit(Long.MaxValue), _ => true)
    check("msg INT, __time__ BIGINT", t >= lit(Long.MinValue), _ => true)
  }

  test("fractional literals and STRING __time__ keep their Filter") {
    val dbl = "msg INT, __time__ DOUBLE"
    check(dbl, t < lit(T0 + 10.5), _ <= T0 + 10, exact = false)
    check(dbl, t >= lit(T0 + 10.5), _ >= T0 + 11, exact = false)
    check(dbl, t <= lit(T0 - 0.5), _ => false, exact = false)
    check("msg INT, __time__ DECIMAL(20,1)", t > lit(BigDecimal(T0 + 97.5)),
      _ >= T0 + 98, exact = false)
    // a STRING __time__ pushes a superset range and re-filters
    def asStr(s: Int) = new java.sql.Timestamp(s * 1000L).toString
    check("msg INT, __time__ STRING", t >= lit(asStr(T0 + 40)) && t < lit(asStr(T0 + 45)),
      x => x >= T0 + 40 && x < T0 + 45, exact = false)
  }

  test("a pushed range combined with LIMIT") {
    val inRange = written.collect { case (m, x) if x >= T0 + 20 && x < T0 + 70 => m }.toSet
    val d = df(Ts).filter(t >= ts(T0 + 20) && t < ts(T0 + 70)).select("msg")
    val five = d.limit(5).collect().map(_.getInt(0))
    assert(five.length === 5 && five.forall(inRange))
    assert(d.limit(1000).collect().map(_.getInt(0)).toSet === inRange)
    assert(d.limit(5).queryExecution.executedPlan.toString.contains("limit=None"))
  }

  test("an AvailableNow stream filtered on __time__ returns exactly the filtered rows") {
    val q = spark.readStream.format("graft-logstore").option("store.root", root)
      .option("store.project", "proj").option("store.name", "logs")
      .option("maxoffsetspertrigger", "64").schema(Ts).load()
      .filter(t >= ts(T0 + 50) && t < ts(T0 + 75)).select("msg")
      .writeStream.format("memory").queryName("time_pushdown_stream")
      .option("checkpointLocation", tempDir("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val got = spark.table("time_pushdown_stream").collect().map(_.getInt(0)).sorted.toSeq
    assert(got === written.collect { case (m, x) if x >= T0 + 50 && x < T0 + 75 => m }.sorted)
  }

  test("a stream refuses a pushed time range it would not apply") {
    val opts = LogServiceOptions(Map("store.root" -> root, "store.project" -> "proj",
      "store.name" -> "logs"))
    val scan = new LogScan(StructType.fromDDL(Ts), opts, Some((T0.toLong, T0 + 10L)))
    intercept[IllegalArgumentException](scan.toMicroBatchStream("unused"))
    intercept[IllegalArgumentException](scan.toContinuousStream("unused"))
  }
}
