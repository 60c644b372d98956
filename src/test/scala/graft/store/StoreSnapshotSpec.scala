package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One manifest fold per operation, and metadata that a concurrent
  * reader never sees half-written. */
class StoreSnapshotSpec extends AnyFunSuite {

  private def rec(t: Int) =
    LogRecord(t, "topic", "src", Map.empty, Map("k" -> s"v$t"))

  private def newRoot() = Files.createTempDirectory("snapshot-store").toString

  /** Counts whole-file reads through the IO seam: every manifest a fold
    * reads, plus `meta.json` once per fold. */
  private class CountingStore(root: String) extends EmbeddedLogStore(root) {
    val fileReads = new AtomicInteger(0)
    override protected def fsOp[T](op: => T): T = {
      val r = op
      if (r.isInstanceOf[Array[Byte]]) fileReads.incrementAndGet()
      r
    }
  }

  test("staging 8 shards folds once; a commit folds at most twice") {
    val s = new CountingStore(newRoot())
    s.createStore("proj", "logs", 8)
    val manifests = 100
    (0 until manifests).foreach(i =>
      s.appendSegment("proj", "logs", i % 8, s"m$i", Seq(rec(i))))
    assert(s.snapshot("proj", "logs").manifestCount === manifests)
    val perFold = manifests + 1 // every manifest, then meta.json

    s.fileReads.set(0)
    val staged = s.stageSegments("proj", "logs",
      (0 until 8).map(sh => (sh, "job", Seq(rec(1000 + sh)))))
    assert(staged.size === 8)
    assert(s.fileReads.get() === perFold)

    s.fileReads.set(0)
    s.commitSegments("proj", "logs", staged)
    // the snapshot, then the post-link verify (which also reads the new
    // manifest); the auto-compaction check reuses the verify's count
    assert(s.fileReads.get() <= 2 * perFold + 1)
    assert((0 until 8).map(sh => s.shardEnd("proj", "logs", sh)).sum ===
      manifests + 8L)
  }

  test("a pinned batch plan reads each manifest once; time scans fold once") {
    val root = newRoot()
    val s = new CountingStore(root)
    s.createStore("proj", "logs", 4)
    (0 until 100).foreach(i =>
      s.appendSegment("proj", "logs", i % 4, s"m$i", Seq(rec(i))))
    val pinned = 60L
    val opts = new graft.connector.LogServiceOptions(Map("store.root" -> root,
      "store.project" -> "proj", "store.name" -> "logs",
      "store.snapshotversion" -> pinned.toString)) {
      override def newStore: EmbeddedLogStore = s
    }
    s.fileReads.set(0)
    val scan = new graft.connector.LogScan(
      graft.connector.RowConverters.DefaultSchema, opts)
    val rows = scan.estimateStatistics().numRows().getAsLong
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.connector.LogInputPartition])
    // manifests 1..60, then meta.json: statistics and plan share the fold
    assert(s.fileReads.get() === pinned + 1)
    assert(rows === pinned) // one record per manifest
    assert(parts.map(p => p.until - p.from).sum === pinned)

    // shard 1 holds times 1, 5, 9, ... at ordinals 0, 1, 2, ...; one more
    // segment (ordinals 25-26) straddles the count's upper bound
    s.appendSegment("proj", "logs", 1, "late", Seq(rec(48), rec(52)))
    val perFold = 101 + 1
    s.fileReads.set(0)
    assert(s.cursorAtTime("proj", "logs", 1, 50) === 13L)
    assert(s.fileReads.get() === perFold)
    s.fileReads.set(0)
    assert(s.countInTimeRange("proj", "logs", 1, 10, 50) === 11L)
    assert(s.fileReads.get() === perFold)
  }

  test("snapshot answers every shard from one fold") {
    val s = new EmbeddedLogStore(newRoot())
    s.createStore("proj", "logs", 3)
    s.appendSegment("proj", "logs", 0, "a", Seq(rec(1), rec(2)))
    s.appendSegment("proj", "logs", 2, "b", Seq(rec(3)))
    s.appendSegment("proj", "logs", 0, "c", Seq(rec(4)))
    val snap = s.snapshot("proj", "logs")
    assert(snap.version === 3L)
    assert(snap.shards.map(_.id) === Seq(0, 1, 2))
    assert(snap.ends === Map(0 -> 3L, 1 -> 0L, 2 -> 1L))
    assert(snap.starts === Map(0 -> 0L, 1 -> 0L, 2 -> 0L))
    assert(snap.shard(0).segments.map(_.base) === Seq(0L, 2L))
    assert(snap.shard(0).clip(2, 3).map(_.logicalName) === Seq("c"))
    assert(snap.shard(0).segments.map(_.base).toArray sameElements
      s.snapshot("proj", "logs").shard(0).segments.map(_.base))
    assert(snap.committedFile(0, "c") === Some(snap.shard(0).segments(1).fileName))
    assert(snap.committedFile(1, "c") === None)
  }

  test("rewritten metadata is never read torn") {
    val root = newRoot()
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 2)
    val configs = Seq(Map("maxoffsetspertrigger" -> "100"),
      Map("maxoffsetspertrigger" -> "200", "decoy" -> "x"))
    val ddls = Seq("a INT", "a INT, b STRING")
    s.writeSourceConfig("proj", "logs", configs(0))
    s.writeTableSchema("proj", "logs", ddls(0))
    @volatile var writing = true
    val writer = new Thread(() =>
      try (0 until 3000).foreach { i =>
        s.createStore("proj", "logs", 2 + i % 2)
        s.writeSourceConfig("proj", "logs", configs(i % 2))
        s.writeTableSchema("proj", "logs", ddls(i % 2))
      } finally writing = false)
    val bad = scala.collection.mutable.Buffer[String]()
    var reads = 0
    writer.start()
    while (writing) {
      reads += 1
      try {
        val shards = s.listShards("proj", "logs").size
        if (shards != 2 && shards != 3) bad += s"shards: $shards"
        val config = s.readSourceConfig("proj", "logs")
        if (!configs.contains(config)) bad += s"config: $config"
        val ddl = s.readTableSchema("proj", "logs")
        if (!ddls.exists(d => ddl.contains(d))) bad += s"schema: $ddl"
      } catch {
        case t: Exception => bad += t.toString
      }
    }
    writer.join()
    assert(reads > 0)
    val torn = bad.size
    assert(torn === 0, s"torn reads out of $reads, e.g. ${bad.take(3)}")
    // no temp file outlives its rename
    val listing = Files.list(java.nio.file.Paths.get(root, "proj", "logs"))
    val temps = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".")).toList finally listing.close()
    assert(temps.isEmpty)
  }
}
