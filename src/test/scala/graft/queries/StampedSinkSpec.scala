package graft.queries

import graft.{SparkTestSession, StopStreamsAfterAll}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stamped-sink leg that c14-c18 share: every micro-batch lands in
  * the sink with its `batch_id`, and a leg whose pacing collapsed to one
  * trigger fails instead of passing a vacuous state-carryover check. */
class StampedSinkSpec extends AnyFunSuite with StopStreamsAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val total = 30L

  /** A one-shard store holding msg 0 until `total`, streamed with
    * admission budget `budget` through the stamped sink. */
  private def stamped(budget: String) = {
    val opts = ConnectorQueries.freshStore("stamped")
    spark.range(total).coalesce(1)
      .select(lit(0).as("__shard__"), lit(1700000000).as("__time__"),
        col("id").as("msg"))
      .write.format("graft-logstore").options(opts).mode("append").save()
    val out = spark.newSession().readStream.format("graft-logstore").options(opts)
      .option("maxoffsetspertrigger", budget)
      .schema("msg LONG").load()
    ConnectorQueries.runToSink(spark, out, "stamped", "append", "msg LONG",
      perBatch = Some(identity))
  }

  test("a budget that drains in one micro-batch trips the stamped-sink guard") {
    val e = intercept[IllegalArgumentException](stamped(total.toString))
    assert(e.getMessage.contains(
      "stamped expected multiple micro-batches; pacing produced fewer than 2"))
  }

  test("the three-batch budget passes the guard and stamps every row once") {
    val sink = stamped(ConnectorQueries.threeBatches(total))
    assert(sink.select(col("batch_id")).distinct().count() === 3)
    assert(sink.select(col("msg")).collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until total))
  }
}
