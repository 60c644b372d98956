package graft

import graft.store.{EmbeddedLogStore, LogRecord}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class StoreManifestSpec extends AnyFunSuite with TempDirs {

  private def rec(t: Int) =
    LogRecord(t, "", "", Map.empty, Map("k" -> t.toString))
  private def newStore() = {
    val root = tempDir("graft-manifest").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 2)
    s
  }

  test("staged segments are invisible until the manifest commit") {
    val s = newStore()
    val st0 = s.stageSegment("proj", "logs", 0, "a", Seq(rec(1), rec(2)))
    val st1 = s.stageSegment("proj", "logs", 1, "b", Seq(rec(3)))
    assert(s.listSegments("proj", "logs", 0).isEmpty)
    assert(s.shardEnd("proj", "logs", 1) === 0L)
    s.commitSegments("proj", "logs", Seq(st0, st1))
    assert(s.shardEnd("proj", "logs", 0) === 2L)
    assert(s.shardEnd("proj", "logs", 1) === 1L)
    assert(s.read("proj", "logs", 0, 0, 2).map(_._2.time).toSeq === Seq(1, 2))
  }

  test("recommitting the same staged set is a no-op (epoch replay)") {
    val s = newStore()
    val st = s.stageSegment("proj", "logs", 0, "e1", Seq(rec(1)))
    s.commitSegments("proj", "logs", Seq(st))
    // replay: re-stage the same logical segment, commit again
    val st2 = s.stageSegment("proj", "logs", 0, "e1", Seq(rec(1)))
    s.commitSegments("proj", "logs", Seq(st2))
    assert(s.shardEnd("proj", "logs", 0) === 1L)
    assert(s.listSegments("proj", "logs", 0).size === 1)
  }

  test("a replayed logical segment may not change shape once committed") {
    val s = newStore()
    s.appendSegment("proj", "logs", 0, "e1", Seq(rec(1), rec(2)))
    val e = intercept[IllegalArgumentException] {
      s.stageSegment("proj", "logs", 0, "e1", Seq(rec(1)))
    }
    assert(e.getMessage.contains("committed as"))
  }

  test("racing committers all land, with distinct manifest versions") {
    val s = newStore()
    val n = 16
    val staged = (0 until n).map(i =>
      s.stageSegment("proj", "logs", i % 2, s"t$i", Seq(rec(i))))
    val threads = staged.map { st =>
      new Thread(() => s.commitSegments("proj", "logs", Seq(st)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(s.shardEnd("proj", "logs", 0) + s.shardEnd("proj", "logs", 1) === n.toLong)
    // every segment exactly once, ordinals stable across re-listing
    val l0 = s.listSegments("proj", "logs", 0).map(_.fileName)
    assert(l0.distinct.size === l0.size)
    assert(l0 === s.listSegments("proj", "logs", 0).map(_.fileName))
  }

  test("manifest compaction preserves order, content, and later commits") {
    val s = newStore()
    (0 until 10).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"e$i", Seq(rec(i))))
    val before = s.read("proj", "logs", 0, 0, 10).toSeq.map { case (o, r) => (o, r.time) }
    s.compactManifests("proj", "logs")
    assert(s.read("proj", "logs", 0, 0, 10).toSeq
      .map { case (o, r) => (o, r.time) } === before)
    // commits after compaction keep appending
    s.appendSegment("proj", "logs", 0, "post", Seq(rec(99)))
    assert(s.shardEnd("proj", "logs", 0) === 11L)
    assert(s.read("proj", "logs", 0, 10, 11).map(_._2.time).toSeq === Seq(99))
    // a second compaction folds the delta into the new checkpoint
    s.compactManifests("proj", "logs")
    assert(s.shardEnd("proj", "logs", 0) === 11L)
    // replay of a pre-compaction epoch stays idempotent
    s.appendSegment("proj", "logs", 0, "e3", Seq(rec(3)))
    assert(s.shardEnd("proj", "logs", 0) === 11L)
  }

  test("fast JSONL parse round-trips adversarial records exactly") {
    val nasty = Seq("", "plain", "with \"quotes\"", "back\\slash",
      "tab\there", "new\nline", "cr\rhere", "ctl\u0001x", "uni \u7684 ok",
      "{\"fake\":\"json\"}", "trail\\", "a:b,c}d{", " nul")
    val rng = new scala.util.Random(42)
    def randStr(): String = nasty(rng.nextInt(nasty.length)) +
      rng.alphanumeric.take(rng.nextInt(8)).mkString
    val records = (0 until 500).map { k =>
      LogRecord(rng.nextInt(Int.MaxValue), randStr(), randStr(),
        Map(randStr() -> randStr()),
        Map("k" -> k.toString, randStr() -> randStr()))
    }
    // writer -> segment file -> reader (fast path first): any misparse
    // surfaces as a record inequality here
    val s = newStore()
    s.appendSegment("proj", "logs", 0, "nasty", records)
    val back = s.read("proj", "logs", 0, 0, records.size).map(_._2).toSeq
    assert(back === records)
    // lines the fast path must REJECT (fall back to Jackson), never misparse
    Seq("""{"time":1,"topic":"a"}""", """{ "time":1}""", "",
      """{"time":1,"topic":"a","source":"b","tags":{},"contents":{}} """,
      """{"time":1,"topic":"a","source":"b","tags":{"k":1},"contents":{}}""")
      .foreach(l => assert(graft.store.FastJsonl.tryParse(l) == null, l))
  }

  test("concurrent readers always observe a prefix while commits land") {
    val s = newStore()
    val n = 60
    @volatile var failure: Option[String] = None
    val writer = new Thread(() => (0 until n).foreach { i =>
      s.appendSegment("proj", "logs", 0, s"w$i", Seq(rec(i)))
    })
    val reader = new Thread(() => {
      var prev = Seq.empty[String]
      while (writer.isAlive && failure.isEmpty) {
        val cur = s.listSegments("proj", "logs", 0).map(_.fileName)
        if (!cur.startsWith(prev))
          failure = Some(s"listing regressed: $prev -> $cur")
        prev = cur
      }
    })
    writer.start(); reader.start()
    writer.join(); reader.join()
    assert(failure.isEmpty, failure)
    assert(s.shardEnd("proj", "logs", 0) === n.toLong)
  }

  test("auto-compaction bounds the manifest chain on many commits") {
    val s = newStore()
    val n = s.AutoCompactThreshold + 40
    (0 until n).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"e$i", Seq(rec(i))))
    assert(s.shardEnd("proj", "logs", 0) === n.toLong)
    // content intact and ordered after the automatic fold
    assert(s.read("proj", "logs", 0, 0, 3).map(_._2.time).toSeq === Seq(0, 1, 2))
    assert(s.read("proj", "logs", 0, n - 1, n).map(_._2.time).toSeq === Seq(n - 1))
  }

  test("compaction racing committers and readers loses nothing") {
    // pre-fix, compactManifests derived its checkpoint entries and its
    // version from two separate directory listings: a commit landing
    // between them got a version below the checkpoint and its segments
    // were silently dropped by the post-checkpoint fold. Now both come
    // from one snapshot, so a racer collides on the version link and
    // retries. This stress drives commits, explicit compactions, and
    // readers concurrently and then asserts every commit survived.
    val s = newStore()
    val n = 200
    @volatile var writing = true
    @volatile var err: Option[Throwable] = None
    val writer = new Thread(() => try {
      (0 until n).foreach(i =>
        s.appendSegment("proj", "logs", 0, s"w$i", Seq(rec(i))))
    } catch { case t: Throwable => err = Some(t) } finally writing = false)
    val compactor = new Thread(() => try {
      while (writing) s.compactManifests("proj", "logs")
    } catch { case t: Throwable => err = Some(t) })
    val reader = new Thread(() => try {
      var prev = Seq.empty[String]
      while (writing) {
        val cur = s.listSegments("proj", "logs", 0).map(_.fileName)
        if (!cur.startsWith(prev)) { err = Some(new AssertionError(
          s"listing regressed under compaction: $prev -> $cur")) }
        prev = cur
      }
    } catch { case t: Throwable => err = Some(t) })
    writer.start(); compactor.start(); reader.start()
    writer.join(); compactor.join(); reader.join()
    assert(err.isEmpty, err)
    val files = s.listSegments("proj", "logs", 0).map(_.logicalName)
    assert(files.size === n, s"lost ${n - files.size} commits to compaction race")
    assert(files.toSet === (0 until n).map(i => s"w$i").toSet)
    assert(s.shardEnd("proj", "logs", 0) === n.toLong)
  }

  test("stale delta below a checkpoint (crash mid-deletion) is ignored, then cleaned") {
    val root = tempDir("graft-crash").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 2)
    (0 until 5).foreach(i =>
      s.appendSegment("proj", "logs", 0, s"w$i", Seq(rec(i))))
    val mDir = java.nio.file.Paths.get(root, "proj", "logs", "manifests")
    val staleName = "m-0000000002.json"
    val staleBytes = Files.readAllBytes(mDir.resolve(staleName))
    s.compactManifests("proj", "logs") // checkpoint m-6, deltas deleted
    // crash simulation: a delta the compactor would have deleted is back
    Files.write(mDir.resolve(staleName), staleBytes)
    // reads fold from the checkpoint: the stale delta must not resurface
    assert(s.listSegments("proj", "logs", 0).map(_.logicalName)
      === (0 until 5).map(i => s"w$i"))
    assert(s.read("proj", "logs", 0, 0, 5).map(_._2.time).toSeq === (0 until 5))
    // commits still version past the checkpoint, and the next compaction
    // sweeps the leftover
    s.appendSegment("proj", "logs", 0, "w5", Seq(rec(5)))
    s.compactManifests("proj", "logs")
    assert(!Files.exists(mDir.resolve(staleName)))
    assert(s.read("proj", "logs", 0, 0, 6).map(_._2.time).toSeq === (0 until 6))
  }

  test("vacuum removes crash leftovers, keeps all committed data") {
    val s = newStore()
    s.appendSegment("proj", "logs", 0, "kept", Seq(rec(1), rec(2)))
    // a crashed job's staged files: never committed, never aborted
    s.stageSegment("proj", "logs", 0, "crashA", Seq(rec(7)))
    s.stageSegment("proj", "logs", 1, "crashB", Seq(rec(8)))
    assert(s.vacuumOrphans("proj", "logs") === 2)
    assert(s.vacuumOrphans("proj", "logs") === 0) // idempotent
    assert(s.shardEnd("proj", "logs", 0) === 2L)
    assert(s.read("proj", "logs", 0, 0, 2).map(_._2.time).toSeq === Seq(1, 2))
  }

  test("ordinals of earlier commits never move as later commits land") {
    val s = newStore()
    s.appendSegment("proj", "logs", 0, "first", Seq(rec(10), rec(11)))
    val before = s.read("proj", "logs", 0, 0, 2).toSeq.map { case (o, r) => (o, r.time) }
    s.appendSegment("proj", "logs", 0, "second", Seq(rec(5)))
    val after = s.read("proj", "logs", 0, 0, 2).toSeq.map { case (o, r) => (o, r.time) }
    assert(before === after) // commit order, not time order or name order
    assert(s.read("proj", "logs", 0, 2, 3).map(_._2.time).toSeq === Seq(5))
  }
}
