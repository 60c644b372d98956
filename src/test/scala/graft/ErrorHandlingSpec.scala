package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Failure-path contract: scans fail LOUDLY. The reference swallows scan
  * setup errors into an empty iterator (LoghubSourceRDD.scala:245-248 —
  * silently lossy, called out in SURVEY §4); we deliberately do the
  * opposite, so a misconfigured or corrupted store can never masquerade
  * as an empty-but-successful read. */
class ErrorHandlingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def opts(root: String) = Map("store.root" -> root,
    "store.project" -> "proj", "store.name" -> "logs")

  test("reading a nonexistent store fails, not empty") {
    val root = tempDir("graft-err").toString
    val e = intercept[Exception] {
      spark.read.format("graft-logstore").options(opts(root))
        .schema("msg INT").load().count()
    }
    assert(e.getMessage != null)
  }

  test("corrupted segment file fails the task, not silently skipped") {
    val root = tempDir("graft-err").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    store.appendSegment("proj", "logs", 0, "a",
      Seq(LogRecord(1700000000, "t", "s", Map.empty, Map("msg" -> "1"))))
    val seg = store.listSegments("proj", "logs", 0).head
    Files.writeString(
      Paths.get(root, "proj", "logs", "shard-0", seg.fileName),
      "this is not json\n")
    // count() alone is now answered from manifest stats (zero data
    // read, like parquet footer counts) — force an actual data read
    val e = intercept[Exception] {
      spark.read.format("graft-logstore").options(opts(root))
        .schema("msg INT").load().agg(sum(col("msg"))).collect()
    }
    assert(e != null)
  }

  test("unconvertible field value fails loudly under a typed schema") {
    val root = tempDir("graft-err").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    store.appendSegment("proj", "logs", 0, "a",
      Seq(LogRecord(1700000000, "t", "s", Map.empty, Map("msg" -> "not-an-int"))))
    val e = intercept[Exception] {
      spark.read.format("graft-logstore").options(opts(root))
        .schema("msg INT").load().agg(sum(col("msg"))).collect()
    }
    assert(e != null)
  }

  test("replayed segment with different record count is rejected") {
    val root = tempDir("graft-err").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    val rec = (n: Int) => (0 until n).map(i =>
      LogRecord(1700000000 + i, "t", "s", Map.empty, Map("msg" -> i.toString)))
    store.appendSegment("proj", "logs", 0, "epoch1", rec(5))
    val e = intercept[IllegalArgumentException] {
      store.appendSegment("proj", "logs", 0, "epoch1", rec(3))
    }
    assert(e.getMessage.contains("replayed segment"))
  }

  test("splitting a readonly shard is rejected") {
    val root = tempDir("graft-err").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 2)
    store.splitShard("proj", "logs", 0)
    val e = intercept[IllegalArgumentException] {
      store.splitShard("proj", "logs", 0)
    }
    assert(e.getMessage.contains("not writable"))
  }

  test("overwrite save mode is rejected (reference K2 semantics)") {
    val root = tempDir("graft-err").toString
    new EmbeddedLogStore(root).createStore("proj", "logs", 1)
    import spark.implicits._
    val df = Seq((1700000000, "x")).toDF("__time__", "payload")
    val e = intercept[Exception] {
      df.write.format("graft-logstore").options(opts(root))
        .mode("overwrite").save()
    }
    assert(e.getMessage.toLowerCase.contains("truncate") ||
      e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)
  }

  test("binary/array/map columns are rejected on write (flat wire model)") {
    val root = tempDir("graft-err").toString
    new EmbeddedLogStore(root).createStore("proj", "logs", 1)
    import spark.implicits._
    val df = Seq((1700000000, Array[Byte](1, 2, 3))).toDF("__time__", "payload")
    val e = intercept[Exception] {
      df.write.format("graft-logstore").options(opts(root))
        .mode("append").save()
    }
    assert(e.toString.contains("unsupported write type") ||
      Option(e.getCause).exists(_.toString.contains("unsupported write type")) ||
      e.getMessage != null)
  }

  test("sequence numbers and topic/source metadata round-trip") {
    val root = tempDir("graft-md").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    store.appendSegment("proj", "logs", 0, "a", (0 until 3).map(i =>
      LogRecord(1700000000 + i, "topicX", "host9", Map.empty,
        Map("msg" -> i.toString))))
    val df = spark.read.format("graft-logstore").options(opts(root))
      .option("appendsequencenumber", "true")
      .schema("msg INT, __topic__ STRING, __source__ STRING, __sequence_number__ STRING")
      .load()
    val rows = df.orderBy("msg").collect()
    assert(rows.map(_.getString(1)).toSet === Set("topicX"))
    assert(rows.map(_.getString(2)).toSet === Set("host9"))
    // reference shape <logGroupIndex>-<logIndex>: group = segment,
    // group index = the segment's base cursor, log index = position
    // within the segment
    assert(rows.map(_.getString(3)).toSeq === Seq("0-0", "0-1", "0-2"))
    store.appendSegment("proj", "logs", 0, "b", (3 until 5).map(i =>
      LogRecord(1700000000 + i, "topicX", "host9", Map.empty,
        Map("msg" -> i.toString))))
    val rows2 = df.orderBy("msg").collect()
    assert(rows2.map(_.getString(3)).toSeq ===
      Seq("0-0", "0-1", "0-2", "3-0", "3-1"))
    // without the option the column is null (reference default)
    val noseq = spark.read.format("graft-logstore").options(opts(root))
      .schema("msg INT, __sequence_number__ STRING").load()
    assert(noseq.filter(col("__sequence_number__").isNull).count() === 5)
  }

  test("pipeline operators validate their parameters loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val emb = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](
      graft.operators.Dedup.segmentDedup(docs, segTokens = 0))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.segmentDedup(docs, minDocs = 1))
    // PQ: dimension must split into m subspaces
    intercept[IllegalArgumentException](
      graft.operators.Similarity.pqKnn(emb, emb, k = 1, m = 3))
  }

  test("mismatched KMV sketches refuse to combine; tiny capacity refused loudly") {
    import graft.functions.Sketches._
    import spark.implicits._
    val a = Seq(1L, 2L).toDF("v").agg(kmv_build(col("v"), 64))
      .head().getAs[Array[Byte]](0)
    val b = Seq(1L, 2L).toDF("v").agg(kmv_build(col("v"), 128))
      .head().getAs[Array[Byte]](0)
    val e = intercept[Exception](
      spark.range(1).select(kmv_jaccard(lit(a), lit(b))).head())
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msg(e).contains("mismatched sketch k"), msg(e))
    // kmv_merge over mixed-capacity partials refuses the same way
    val e2 = intercept[Exception](
      Seq(a, b).toDF("sk").agg(kmv_merge(col("sk"))).head())
    assert(msg(e2).contains("mismatched sketch k"), msg(e2))
    // a 1-element bottom-k cannot estimate anything — constructor refuses
    intercept[IllegalArgumentException](graft.functions.KmvSketchBuild(
      org.apache.spark.sql.graft.Bridge.expression(col("v")), k = 1))
  }

  test("mismatched Bloom filters refuse to merge") {
    import spark.implicits._
    val b = graft.functions.Bloom
    val small = Seq("x").toDF("v").agg(b.bloom_build(col("v"), 10, 0.1))
      .head().getAs[Array[Byte]](0)
    val large = Seq("x").toDF("v").agg(b.bloom_build(col("v"), 10000, 0.001))
      .head().getAs[Array[Byte]](0)
    val both = Seq(small, large).toDF("bf")
    val e = intercept[Exception](both.agg(b.bloom_merge(col("bf"))).head())
    assert(e.getMessage != null &&
      (e.getMessage.contains("mismatched") ||
        e.getCause != null && e.getCause.getMessage.contains("mismatched")))
  }
}
