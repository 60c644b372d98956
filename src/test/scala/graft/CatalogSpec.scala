package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** SQL catalog surface: stores as tables, no option plumbing. */
class CatalogSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def withCatalog(test: String => Unit): Unit = {
    val root = tempDir("graft-cat").toString
    // the catalog NAME must be unique per test: Spark's CatalogManager
    // caches catalog instances by name, so a name collision (the old
    // root.hashCode % 1000 scheme collided at the few-per-thousand
    // level) hands this test a cached catalog pinned to a PREVIOUS
    // test's root — tables then land in one root while direct
    // EmbeddedLogStore reads go to the other (observed as a flaky
    // empty VERSION AS OF)
    val cat = s"gcat${CatalogSpec.NextCatalogId.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.connector.LogServiceCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    try test(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
    }
  }

  test("CREATE TABLE / INSERT INTO / SELECT / SHOW TABLES / DROP TABLE") {
    withCatalog { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.proj")
      spark.sql(s"CREATE TABLE $cat.proj.logs (__time__ INT, msg STRING) " +
        "TBLPROPERTIES ('shards'='4')")
      // declared schema persisted with the store
      assert(spark.table(s"$cat.proj.logs").schema.fieldNames.toSeq ===
        Seq("__time__", "msg"))
      spark.sql(s"INSERT INTO $cat.proj.logs VALUES " +
        "(1700000000, 'hello'), (1700000100, 'world'), (1700000200, 'again')")
      assert(spark.sql(s"SELECT msg FROM $cat.proj.logs ORDER BY __time__")
        .collect().map(_.getString(0)).toSeq === Seq("hello", "world", "again"))
      // aggregate through the same catalog identifier
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $cat.proj.logs WHERE __time__ >= 1700000100")
        .head().getLong(0) === 2L)
      assert(spark.sql(s"SHOW TABLES IN $cat.proj").collect()
        .map(_.getString(1)).toSeq === Seq("logs"))
      assert(spark.sql(s"DROP TABLE $cat.proj.logs").collect().isEmpty)
      assert(spark.sql(s"SHOW TABLES IN $cat.proj").count() === 0)
    }
  }

  test("catalog table created outside SQL resolves with the default schema") {
    withCatalog { cat =>
      val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
      val store = new EmbeddedLogStore(root)
      store.createStore("ext", "raw", 2)
      store.appendSegment("ext", "raw", 0, "a",
        Seq(LogRecord(1700000000, "t", "s", Map.empty, Map("k" -> "v"))))
      val df = spark.table(s"$cat.ext.raw")
      assert(df.schema.fieldNames.contains("__value__")) // default 8-col shape
      assert(df.count() === 1)
    }
  }

  test("streaming read by table name") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.proj.ev (__time__ INT, msg STRING)")
      spark.sql(s"INSERT INTO $cat.proj.ev VALUES (1700000000, 'a'), " +
        "(1700000001, 'b')")
      val q = spark.readStream.table(s"$cat.proj.ev")
        .writeStream.format("memory").queryName("t_cat_stream")
        .option("checkpointLocation",
          tempDir("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      awaitDone(q)
      assert(spark.table("t_cat_stream").count() === 2)
    }
  }

  test("per-query reader options compose with catalog identity") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.proj.tr (__time__ INT, msg STRING)")
      spark.sql(s"INSERT INTO $cat.proj.tr VALUES (100, 'cold'), " +
        "(200, 'warm'), (300, 'hot')")
      val bounded = spark.read
        .option("starttime", "150").option("endtime", "250")
        .table(s"$cat.proj.tr")
      assert(bounded.collect().map(_.getString(1)).toSeq === Seq("warm"))
    }
  }

  test("DataFrameWriterV2: df.writeTo(catalog table).append") {
    withCatalog { cat =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.proj.w2 (__time__ INT, msg STRING)")
      Seq((1700000000, "via"), (1700000001, "writerV2"))
        .toDF("__time__", "msg").writeTo(s"$cat.proj.w2").append()
      assert(spark.table(s"$cat.proj.w2").orderBy("__time__")
        .collect().map(_.getString(1)).toSeq === Seq("via", "writerV2"))
    }
  }

  test("VERSION AS OF pins the scan at a manifest version") {
    withCatalog { cat =>
      val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
      spark.sql(s"CREATE TABLE $cat.proj.tt (__time__ INT, msg STRING)")
      spark.sql(s"INSERT INTO $cat.proj.tt VALUES (100, 'first')")
      val v1 = new EmbeddedLogStore(root).latestVersion("proj", "tt")
      spark.sql(s"INSERT INTO $cat.proj.tt VALUES (200, 'second')")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.proj.tt").head().getLong(0) === 2L)
      assert(spark.sql(
        s"SELECT msg FROM $cat.proj.tt VERSION AS OF $v1").collect()
        .map(_.getString(0)).toSeq === Seq("first"))
      intercept[Exception](spark.sql(
        s"SELECT * FROM $cat.proj.tt TIMESTAMP AS OF '2026-01-01'").collect())
    }
  }

  test("namespace lifecycle and DROP NAMESPACE CASCADE") {
    withCatalog { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.p2")
      spark.sql(s"CREATE TABLE $cat.p2.t (__time__ INT, v STRING)")
      intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.p2")) // not empty
      spark.sql(s"DROP NAMESPACE $cat.p2 CASCADE")
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .forall(_.getString(0) != "p2"))
    }
  }

  test("DROP NAMESPACE CASCADE survives stray entries in the project dir") {
    withCatalog { cat =>
      val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
      spark.sql(s"CREATE NAMESPACE $cat.p3")
      spark.sql(s"CREATE TABLE $cat.p3.t (__time__ INT, v STRING)")
      // A half-created store (no meta.json) and a stray file: neither is
      // visible to listStores, but both must not wedge the CASCADE drop.
      val dir = java.nio.file.Paths.get(root, "p3")
      java.nio.file.Files.createDirectories(dir.resolve("halfmade").resolve("shard-0"))
      java.nio.file.Files.writeString(dir.resolve("stray.txt"), "x")
      spark.sql(s"DROP NAMESPACE $cat.p3 CASCADE")
      assert(!java.nio.file.Files.exists(dir))
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .forall(_.getString(0) != "p3"))
    }
  }
}

object CatalogSpec {
  /** JVM-unique catalog-name counter — see withCatalog. */
  val NextCatalogId = new java.util.concurrent.atomic.AtomicInteger(0)
}
