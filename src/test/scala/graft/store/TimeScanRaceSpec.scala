package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.scalatest.funsuite.AnyFunSuite

/** The time lookups read segment files from a listing that a racing
  * segment compaction may delete under them; they must heal and still
  * give the exact answer. */
class TimeScanRaceSpec extends AnyFunSuite {

  test("cursorAtTime and countInTimeRange stay exact while compactSegments rewrites the shard") {
    val root = Files.createTempDirectory("timescan-race").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("proj", "logs", 1)
    val t0 = 1000
    // ordinal i holds time t0 + i, so every answer is arithmetic
    var written = 0
    def append(n: Int): Unit = {
      s.appendSegment("proj", "logs", 0, s"seg$written", (written until written + n)
        .map(i => LogRecord(t0 + i, "t", "s", Map.empty, Map("i" -> i.toString))))
      written += n
    }
    (0 until 20).foreach(_ => append(5))
    @volatile var running = true
    val compactions = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    // every round appends two small segments, then merges the whole
    // shard into one, deleting every file a concurrent listing named
    val compactor = new Thread(() =>
      try while (running) {
        append(5); append(5)
        if (s.compactSegments("proj", "logs") > 0) compactions.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) })
    compactor.start()
    val rnd = new scala.util.Random(7)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var queries = 0
    try {
      while ((queries < 300 || compactions.get() < 20) && System.nanoTime() < deadline &&
          failure.get() == null) {
        val end = s.shardEnd("proj", "logs", 0).toInt
        val t = t0 + rnd.nextInt(end)
        assert(s.cursorAtTime("proj", "logs", 0, t) === (t - t0).toLong)
        val lo = t0 + rnd.nextInt(end)
        val hi = lo + rnd.nextInt(t0 + end - lo + 1)
        assert(s.countInTimeRange("proj", "logs", 0, lo, hi) === (hi - lo).toLong)
        queries += 1
      }
    } finally {
      running = false
      compactor.join(60000)
    }
    assert(failure.get() === null)
    assert(queries >= 300)
    assert(compactions.get() >= 20)
    // past the last record: the shard's end
    val end = s.shardEnd("proj", "logs", 0)
    assert(s.cursorAtTime("proj", "logs", 0, t0 + end.toInt) === end)
  }
}
