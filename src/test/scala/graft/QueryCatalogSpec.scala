package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Hard-fail instead of silently degrading to interpreted
      // projection when generated code does not compile (the round-17
      // M27Row encoder regression class). Set on the SparkConf so every
      // derived newSession() — streaming closures included — inherits
      // it. CodegenGuardSpec holds the positive control.
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with one session conf set, then restores its prior state. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Mixed into every suite that starts streaming queries: stop whatever
  * is still active once the suite ends. The test session is shared
  * across the whole JVM, so a query left running past its suite —
  * typically an AvailableNow drain whose awaitTermination timed out —
  * keeps planning micro-batches until JVM exit, where it races the
  * SparkContext shutdown hook and logs a spurious
  * MicroBatchExecution INTERNAL_ERROR / NPE (SparkPlan.session is
  * null) into an otherwise green run. */
trait StopStreamsAfterAll extends org.scalatest.BeforeAndAfterAll {
  this: org.scalatest.Suite =>

  /** Drain-and-make-sure: await termination, and if the query outlived
    * the timeout, stop it HERE. afterAll alone cannot catch queries on
    * DERIVED sessions (spark.newSession() has its own
    * StreamingQueryManager, so they never appear in
    * SparkTestSession.spark.streams.active) — one leaked RocksDB drain
    * was observed running batches three minutes into later suites
    * before dying with the planning NPE this trait exists to prevent. */
  def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery,
      ms: Long = 60000): Unit = {
    try q.awaitTermination(ms)
    finally if (q.isActive) drainThenStop(q)
  }

  /** Let the in-flight trigger finish before stop(): stop() landing
    * mid-commit makes a RocksDB state store log CANNOT_COMMIT ("store
    * committing while the query is stopping") into an otherwise green
    * run. processAllAvailable blocks until the current trigger (and
    * any queued data) is fully processed; it is run on a bounded
    * daemon thread because a misbehaving source could make it wait
    * forever, and the stop() must still happen. */
  def drainThenStop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val t = new Thread(() =>
      try q.processAllAvailable() catch { case _: Exception => () })
    t.setDaemon(true)
    t.start()
    t.join(30000)
    try q.stop() catch { case _: Exception => () }
  }

  override def afterAll(): Unit = {
    try SparkTestSession.spark.streams.active.foreach(drainThenStop)
    finally super.afterAll()
  }
}

/** Smoke-level invariants of the query catalog on the sf0.001 fixture.
  * (Value-level correctness is checked against the DuckDB oracle by the
  * driver and tools/check_parity.py.) */
class QueryCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run on sf0.001 and are deterministic across runs") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val a = fn(spark, sf)
      val n = a.count()
      withClue(name) {
        // re-plan and re-run: identical content hash
        val h1 = a.selectExpr("sum(cast(xxhash64(struct(*)) as decimal(38,0))) h").first()
        val h2 = fn(spark, sf)
          .selectExpr("sum(cast(xxhash64(struct(*)) as decimal(38,0))) h").first()
        assert(h1 == h2, s"$name not deterministic")
        assert(n >= 0)
      }
    }
  }

  test("q1 grouping is complete (6 flag/status groups at sf0.001)") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.length >= 4 && rows.length <= 8)
  }
}
