package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-rep path every bench main shares: each timed rep starts from
  * an empty cache, and a streaming rep's component line carries the
  * fields Bench commits to BENCH_DETAIL.json's drains. */
class RepTimerSpec extends AnyFunSuite with StopStreamsAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val timer = new RepTimer(spark)
  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a query that persists an intermediate: every timed rep starts with an empty cache") {
    // q23 pins its revenue table through CachePool.persistLatest, which
    // keeps a same-plan cache across invocations
    val q23 = SparkEntry.queries("q23_revenue_leader")
    RepTimer.noop(q23(spark, sf))
    assert(!cacheEmpty, "the untimed rep should leave q23's cache behind")
    for (_ <- 1 to 2) {
      var emptyAtStart = false
      val rep = timer.time(streaming = false, traced = false) {
        emptyAtStart = cacheEmpty
        RepTimer.noop(q23(spark, sf))
      }
      assert(emptyAtStart)
      assert(!cacheEmpty)
      assert(rep.seconds > 0 && rep.trace.isEmpty)
    }
    timer.fence()
  }

  test("a streaming rep's drain line carries Bench's fields") {
    val c5 = SparkEntry.queries("c5_stream_dedup")
    RepTimer.noop(c5(spark, sf))
    val rep = timer.time(streaming = true, traced = true)(RepTimer.noop(c5(spark, sf)))
    val line = rep.trace.getOrElse(fail("a traced rep returns its line"))
    val keys = line.split(' ').map(_.takeWhile(_ != '=')).toSeq
    assert(keys === Seq("wall", "b", "trig", "add", "wal", "off", "plan",
      "upd", "rm", "cmt", "stRows", "gc",
      "cpuMs", "runMs", "shufRB", "shufWB", "spillDB", "spillMB"), line)
    assert(line.split(' ').forall(_.matches("[a-zA-Z]+=[0-9.]+")), line)
    assert(line.contains(" b=") && !line.contains(" b=0 "), line)
  }
}
