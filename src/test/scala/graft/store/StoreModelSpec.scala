package graft.store

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Differential model test: drive the store through randomized (but
  * seeded — reproducible) sequences of mixed operations and compare
  * every observable — record sequences, ordinals, time counting,
  * cursor-from-time — against a trivial in-memory model after each
  * step. The race tests in StoreManifestSpec cover concurrency; this
  * covers the PROTOCOL under op interleavings a single writer can
  * produce: splits, compactions, vacuum, abandoned staging, idempotent
  * replays, in any order. */
class StoreModelSpec extends AnyFunSuite with TempDirs {

  private def randomRecord(rnd: scala.util.Random, t: Int): LogRecord = {
    // exercise the serializer: quotes, backslashes, newlines, unicode
    val alphabet = Seq("plain", "with \"quotes\"", "back\\slash",
      "line\nbreak", "tab\there", "unicode é中文", "")
    def s() = alphabet(rnd.nextInt(alphabet.length)) + rnd.nextInt(1000)
    LogRecord(t, s(), s(),
      Map("tk" -> s()),
      Map("k1" -> s(), "k2" -> rnd.nextInt(100000).toString))
  }

  test("randomized op sequences match the in-memory model at every step") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val root = tempDir(s"store-model-$trial").toString
      val store = new EmbeddedLogStore(root)
      store.createStore("p", "s", 2)
      // model: per shard, the committed records in commit order, plus
      // the retention base (records below it are expired but ordinals
      // above it never move — the compaction/retention invariant)
      val model = scala.collection.mutable.Map(
        0 -> Vector.empty[LogRecord], 1 -> Vector.empty[LogRecord])
      val base = scala.collection.mutable.Map(0 -> 0, 1 -> 0)
      var writable = Set(0, 1)
      var segId = 0
      var committed = Map.empty[String, (Int, Seq[LogRecord])] // name -> (shard, records)
      var abandoned = List.empty[StagedSegment]
      var clock = 1000
      // consumer groups: the model is a per-shard MAX over every commit
      val groups = scala.collection.mutable.Map[String, Map[Int, Long]]()
        .withDefaultValue(Map.empty)

      def check(): Unit = {
        groups.foreach { case (g, want) =>
          assert(store.readGroupOffsets("p", "s", g) == want,
            s"group $g offsets diverged")
        }
        model.keys.foreach { sh =>
          val b = base(sh)
          val live = model(sh).zipWithIndex.drop(b)
            .map { case (r, i) => (i.toLong, r) }
          val got = store.read("p", "s", sh, 0, Long.MaxValue).toVector
          assert(got == live, s"shard $sh live records diverged")
          assert(store.shardEnd("p", "s", sh) == model(sh).size)
          assert(store.shardStart("p", "s", sh) == b.toLong)
          // time-range primitives against the live model
          val t0 = 1000 + rnd.nextInt(clock - 999)
          val t1 = t0 + rnd.nextInt(clock - t0 + 1)
          assert(store.countInTimeRange("p", "s", sh, t0, t1) ==
            live.count { case (_, r) => r.time >= t0 && r.time < t1 })
          val ct = store.cursorAtTime("p", "s", sh, t0)
          val expect = live.find(_._2.time >= t0).map(_._1)
            .getOrElse(model(sh).size.toLong)
          assert(ct == expect, s"cursorAtTime($t0) on shard $sh")
          // bounded + time-filtered read agrees too
          val lo = rnd.nextInt(model(sh).size + 1)
          val hi = lo + rnd.nextInt(model(sh).size - lo + 1)
          val slice = store.read("p", "s", sh, lo, hi, Some((t0, t1))).toVector
          val want = live.filter { case (i, r) =>
            i >= lo && i < hi && r.time >= t0 && r.time < t1 }
          assert(slice == want, s"bounded read [$lo,$hi)x[$t0,$t1)")
        }
      }

      for (step <- 1 to 60) {
        rnd.nextInt(13) match {
          case 0 | 1 | 2 | 3 | 4 => // append to a random writable shard
            val sh = writable.toSeq(rnd.nextInt(writable.size))
            // segment times are non-decreasing within the shard's life
            val recs = (0 until 1 + rnd.nextInt(5)).map { _ =>
              clock += rnd.nextInt(3); randomRecord(rnd, clock)
            }
            val name = s"seg-$trial-$segId"; segId += 1
            store.appendSegment("p", "s", sh, name, recs)
            model(sh) ++= recs
            committed += name -> (sh, recs)
          case 5 => // idempotent replay of a previously committed segment
            if (committed.nonEmpty) {
              val (name, (sh, recs)) =
                committed.toSeq(rnd.nextInt(committed.size))
              // same logical name + same shape: a no-op by contract
              store.appendSegment("p", "s", sh, name, recs)
            }
          case 6 => // split a writable shard
            if (writable.nonEmpty) {
              val sh = writable.toSeq(rnd.nextInt(writable.size))
              val (a, b) = store.splitShard("p", "s", sh)
              writable = writable - sh + a + b
              model(a) = Vector.empty; model(b) = Vector.empty
              base(a) = 0; base(b) = 0
            }
          case 7 => // stage without committing (a crashed job's leftovers)
            val sh = writable.toSeq(rnd.nextInt(writable.size))
            clock += 1
            abandoned ::= store.stageSegment("p", "s", sh,
              s"orphan-$trial-$segId", Seq(randomRecord(rnd, clock)))
            segId += 1
          case 8 => // compaction is invisible to every reader observable
            store.compactManifests("p", "s")
          case 9 => // vacuum deletes exactly the abandoned staging
            val removed = store.vacuumOrphans("p", "s")
            assert(removed == abandoned.size,
              s"vacuum removed $removed of ${abandoned.size} orphans")
            abandoned = Nil
          case 10 => // segment compaction is invisible to every observable
            store.compactSegments("p", "s", targetRecords = 1 + rnd.nextInt(12))
          case 11 => // retention: expiry is segment-prefix-granular; the
            // expected drop derives from the store's own live listing
            // (already validated against the model by every check())
            val cutoff = 1000 + rnd.nextInt(clock - 999)
            val expectDrop = model.keys.map { sh =>
              sh -> store.listSegments("p", "s", sh)
                .takeWhile(_.maxTime < cutoff).map(_.count).sum
            }.toMap
            val n = store.expireSegments("p", "s", cutoff)
            expectDrop.foreach { case (sh, d) => base(sh) += d.toInt }
            assert((n == 0) == expectDrop.values.forall(_ == 0L),
              s"expireSegments($cutoff) returned $n, expected drops $expectDrop")
          case 12 => // consumer-group commit: monotonic per-shard max,
            // including deliberately REGRESSING commits the merge must
            // absorb; interleaves with every other protocol op
            val g = if (rnd.nextBoolean()) "ga" else "gb"
            val shardIds = model.keys.toSeq.sorted
            val offs = shardIds.filter(_ => rnd.nextBoolean())
              .map(sh => sh -> rnd.nextLong(50)).toMap
            if (offs.nonEmpty) {
              val want = (groups(g).keySet ++ offs.keySet).map { sh =>
                sh -> math.max(groups(g).getOrElse(sh, -1L),
                  offs.getOrElse(sh, -1L))
              }.toMap
              val got = store.commitGroupOffsets("p", "s", g, offs)
              assert(got == want, s"commitGroupOffsets($g, $offs)")
              groups(g) = want
            }
        }
        check()
      }
    }
  }
}
