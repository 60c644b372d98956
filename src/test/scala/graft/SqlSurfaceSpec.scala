package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL user surface over the connector: CREATE TABLE ... USING
  * graft-logstore, SELECT, INSERT INTO — the reference's relation +
  * InsertableRelation paths (S3/K3) driven through DDL instead of the
  * DataFrame API. */
class SqlSurfaceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("CREATE TABLE USING graft-logstore supports SELECT and INSERT INTO") {
    val root = tempDir("graft-sql").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    store.appendSegment("proj", "logs", 0, "seed",
      (1 to 5).map(i => LogRecord(1700000000 + i, "t", "s", Map.empty,
        Map("msg" -> i.toString))))
    spark.sql("DROP TABLE IF EXISTS sql_logs")
    spark.sql(
      s"""CREATE TABLE sql_logs (msg INT, __shard__ INT, __time__ TIMESTAMP)
         |USING `graft-logstore`
         |OPTIONS (
         |  `store.root` '$root',
         |  `store.project` 'proj',
         |  `store.name` 'logs'
         |)""".stripMargin)
    assert(spark.sql("SELECT sum(msg) FROM sql_logs").head().getLong(0) === 15L)

    // K3: INSERT INTO goes through the same staged/manifest write path
    spark.sql(
      """INSERT INTO sql_logs
        |SELECT CAST(id + 10 AS INT) AS msg, CAST(1 AS INT) AS __shard__,
        |       timestamp_seconds(1700000100 + id) AS __time__
        |FROM range(3)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM sql_logs").head().getLong(0) === 8L)
    assert(spark.sql("SELECT sum(msg) FROM sql_logs").head().getLong(0) ===
      (15L + 10 + 11 + 12))
    // the inserted rows landed on the requested shard
    assert(store.shardEnd("proj", "logs", 1) === 3L)
    spark.sql("DROP TABLE sql_logs")
  }

  test("aborted writes leave no staged files behind") {
    val root = tempDir("graft-abort").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    val staged = store.stageSegment("proj", "logs", 0, "doomed",
      Seq(LogRecord(1, "", "", Map.empty, Map("k" -> "v"))))
    store.discardStaged("proj", "logs", Seq(staged))
    assert(store.shardEnd("proj", "logs", 0) === 0L)
    val dir = java.nio.file.Paths.get(root, "proj", "logs", "shard-0")
    assert(!Files.list(dir).iterator().hasNext, "staged file not cleaned")
    // committed files survive a discard call
    store.appendSegment("proj", "logs", 0, "kept",
      Seq(LogRecord(2, "", "", Map.empty, Map("k" -> "v"))))
    store.discardStaged("proj", "logs",
      Seq(graft.store.StagedSegment(0, store.listSegments("proj", "logs", 0).head.fileName)))
    assert(store.shardEnd("proj", "logs", 0) === 1L)
    assert(store.read("proj", "logs", 0, 0, 1).size === 1)
  }
}
