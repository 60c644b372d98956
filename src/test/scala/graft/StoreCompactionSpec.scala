package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import org.scalatest.funsuite.AnyFunSuite

/** Segment (data-file) compaction — the small-files OPTIMIZE. Contract:
  * ordinals, record order, counts and time bounds are preserved; replay
  * idempotence survives via the checkpoint's absorbed list; readers
  * racing the rewrite re-list and resume exactly. */
class StoreCompactionSpec extends AnyFunSuite with TempDirs {

  private def rec(t: Int) =
    LogRecord(t, "", "", Map.empty, Map("k" -> t.toString))
  private def newStore() = {
    val root = tempDir("graft-optimize").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 2)
    s
  }

  test("bin-packs small segments, preserving records, order, and ordinals") {
    val s = newStore()
    // 10 single-record segments on shard 0, 3 on shard 1
    (0 until 10).foreach(i => s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i))))
    (0 until 3).foreach(i => s.appendSegment("proj", "logs", 1, s"b$i", Seq(rec(100 + i))))
    val before0 = s.read("proj", "logs", 0, 0, 10).toSeq
    val merged = s.compactSegments("proj", "logs", targetRecords = 4)
    assert(merged > 0)
    // shard 0: 10 records in runs of <= 4 → 3 merged files (4+4+2)
    val segs0 = s.listSegments("proj", "logs", 0)
    assert(segs0.map(_.count) === Seq(4L, 4L, 2L), segs0)
    assert(segs0.forall(_.logicalName.startsWith("opt")))
    // identical records at identical ordinals
    assert(s.read("proj", "logs", 0, 0, 10).toSeq === before0)
    assert(s.shardEnd("proj", "logs", 0) === 10L)
    // time bounds recomputed exactly per merged segment
    assert(segs0.map(sg => (sg.minTime, sg.maxTime)) ===
      Seq((0, 3), (4, 7), (8, 9)))
    // bounded mid-stream reads still mean the same thing
    assert(s.read("proj", "logs", 0, 3, 6).map(_._2.time).toSeq === Seq(3, 4, 5))
    assert(s.cursorAtTime("proj", "logs", 0, 5) === 5L)
  }

  test("segments at or above the target are left alone; lone smalls stay") {
    val s = newStore()
    s.appendSegment("proj", "logs", 0, "big", (0 until 50).map(rec))
    s.appendSegment("proj", "logs", 0, "small", Seq(rec(100)))
    // big >= target breaks runs; the lone small has no partner
    assert(s.compactSegments("proj", "logs", targetRecords = 10) === 0)
    assert(s.listSegments("proj", "logs", 0).map(_.logicalName) ===
      Seq("big", "small"))
    // two smalls after the big DO merge; the big is untouched
    s.appendSegment("proj", "logs", 0, "small2", Seq(rec(101)))
    assert(s.compactSegments("proj", "logs", targetRecords = 10) === 1)
    assert(s.listSegments("proj", "logs", 0).map(_.count) === Seq(50L, 2L))
    assert(s.read("proj", "logs", 0, 49, 52).map(_._2.time).toSeq ===
      Seq(49, 100, 101))
  }

  test("epoch replay after compaction is still skipped (absorbed list)") {
    val s = newStore()
    val st1 = s.stageSegment("proj", "logs", 0, "e1", Seq(rec(1)))
    s.commitSegments("proj", "logs", Seq(st1))
    val st2 = s.stageSegment("proj", "logs", 0, "e2", Seq(rec(2)))
    s.commitSegments("proj", "logs", Seq(st2))
    assert(s.compactSegments("proj", "logs", targetRecords = 100) === 1)
    // the replayed epoch's (shard, file) is gone from the live entries —
    // absorbed memory must still dedupe it
    val replay = s.stageSegment("proj", "logs", 0, "e1", Seq(rec(1)))
    s.commitSegments("proj", "logs", Seq(replay))
    assert(s.shardEnd("proj", "logs", 0) === 2L)
    assert(s.read("proj", "logs", 0, 0, 9).map(_._2.time).toSeq === Seq(1, 2))
    // and the memory survives a later plain manifest compaction too
    s.appendSegment("proj", "logs", 0, "e3", Seq(rec(3)))
    s.compactManifests("proj", "logs")
    val replay2 = s.stageSegment("proj", "logs", 0, "e2", Seq(rec(2)))
    s.commitSegments("proj", "logs", Seq(replay2))
    assert(s.read("proj", "logs", 0, 0, 9).map(_._2.time).toSeq === Seq(1, 2, 3))
  }

  test("a reader mid-iteration survives the rewrite exactly") {
    val s = newStore()
    (0 until 8).foreach(i => s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i))))
    val it = s.read("proj", "logs", 0, 0, 8)
    // consume past the first segment, then compact everything away
    val head = it.take(3).toSeq
    assert(head.map(_._2.time) === Seq(0, 1, 2))
    assert(s.compactSegments("proj", "logs", targetRecords = 100) > 0)
    // remaining records resume at ordinal 3 over the NEW layout
    assert(it.map(_._2.time).toSeq === Seq(3, 4, 5, 6, 7))
  }

  test("snapshot ends and incremental reads keep meaning after compaction") {
    val s = newStore()
    (0 until 4).foreach(i => s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i))))
    val v = s.latestVersion("proj", "logs")
    (4 until 6).foreach(i => s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i))))
    assert(s.compactSegments("proj", "logs", targetRecords = 100) > 0)
    // the post-compaction head snapshot covers everything
    val head = s.latestVersion("proj", "logs")
    assert(s.shardEndsAt("proj", "logs", head).getOrElse(0, 0L) === 6L)
    // the PRE-compaction version's deltas were folded away — loud failure
    intercept[IllegalArgumentException] {
      s.shardEndsAt("proj", "logs", v)
    }
  }

  test("racing committers and segment compaction lose nothing") {
    val s = newStore()
    val n = 150
    @volatile var writing = true
    @volatile var err: Option[Throwable] = None
    val writer = new Thread(() => try {
      (0 until n).foreach(i =>
        s.appendSegment("proj", "logs", 0, s"w$i", Seq(rec(i))))
    } catch { case t: Throwable => err = Some(t) } finally writing = false)
    val compactor = new Thread(() => try {
      while (writing) s.compactSegments("proj", "logs", targetRecords = 16)
    } catch { case t: Throwable => err = Some(t) })
    val reader = new Thread(() => try {
      // total mass only APPENDS — a shrink means a lost commit
      var prev = 0L
      while (writing) {
        val cur = s.shardEnd("proj", "logs", 0)
        if (cur < prev) err = Some(new AssertionError(
          s"shard end regressed under compaction: $prev -> $cur"))
        prev = cur
      }
    } catch { case t: Throwable => err = Some(t) })
    writer.start(); compactor.start(); reader.start()
    writer.join(); compactor.join(); reader.join()
    assert(err.isEmpty, err)
    s.compactSegments("proj", "logs", targetRecords = 16)
    assert(s.shardEnd("proj", "logs", 0) === n.toLong)
    assert(s.read("proj", "logs", 0, 0, n).map(_._2.time).toSeq ===
      (0 until n))
    // and every record is in a merged or original segment exactly once
    val total = s.listSegments("proj", "logs", 0).map(_.count).sum
    assert(total === n.toLong)
  }

  test("race loser must not delete the winner's committed merged files") {
    // Two compactors over the SAME view stage identical merged files
    // (names are digests of the constituents). The loser's cleanup must
    // not remove what the winner's checkpoint now references. The test
    // seam injects the winner exactly inside the loser's race window:
    // after the loser stages, before it tries to commit.
    val s = newStore()
    (0 until 8).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"a$i", Seq(rec(i))))
    val before = s.read("proj", "logs", 0, 0, 8).toSeq
    var winnerMerged = -1
    s.onCompactStaged = () => {
      s.onCompactStaged = () => () // one-shot: the winner runs clean
      winnerMerged = s.compactSegments("proj", "logs", targetRecords = 4)
    }
    val loserMerged = s.compactSegments("proj", "logs", targetRecords = 4)
    assert(winnerMerged === 2)     // 8 records in runs of 4 → 2 files
    assert(loserMerged === 0)      // loser retried on a fresh snapshot
    // the winner's merged data must survive the loser's cleanup
    assert(s.listSegments("proj", "logs", 0).map(_.count) === Seq(4L, 4L))
    assert(s.read("proj", "logs", 0, 0, 8).toSeq === before)
    assert(s.shardEnd("proj", "logs", 0) === 8L)
  }
}
