package graft

import graft.store.{EmbeddedLogStore, LogRecord, Retry}
import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Retry/backoff on storage IO (SURVEY §2.3 O13): the store must ride
  * out transient shared-storage failures per the reference client
  * contract (RetryUtil.java:28-73) — bounded exponential backoff,
  * unrecoverable signals passed straight through. */
class StoreRetrySpec extends AnyFunSuite {

  private def rec(t: Int) =
    LogRecord(t, "topic", "src", Map.empty, Map("k" -> s"v$t"))

  /** Injects `failures` transient IOExceptions across the store's IO
    * seam, then lets operations through. Millisecond backoff. */
  private class FlakyStore(root: String, failures: Int)
      extends EmbeddedLogStore(root, ioRetries = 10, ioBackoffMs = 1,
        ioMaxBackoffMs = 4) {
    val injected = new AtomicInteger(0)
    @volatile var arm = false
    override protected def fsOp[T](op: => T): T = {
      if (arm && injected.get() < failures) {
        injected.incrementAndGet()
        throw new IOException("injected transient storage failure")
      }
      op
    }
  }

  test("append and read ride out transient IO failures") {
    val root = java.nio.file.Files.createTempDirectory("retry-store").toString
    val s = new FlakyStore(root, failures = 5)
    s.createStore("proj", "logs", 1)
    s.arm = true
    s.appendSegment("proj", "logs", 0, "w1", Seq(rec(1), rec(2)))
    assert(s.injected.get() === 5) // the write path absorbed all 5
    s.arm = false
    assert(s.read("proj", "logs", 0, 0, 2).map(_._2.time).toSeq === Seq(1, 2))
  }

  test("read path retries independently of the write path") {
    val root = java.nio.file.Files.createTempDirectory("retry-store").toString
    val s = new FlakyStore(root, failures = 3)
    s.createStore("proj", "logs", 1)
    s.appendSegment("proj", "logs", 0, "w1", Seq(rec(7)))
    s.arm = true
    assert(s.read("proj", "logs", 0, 0, 1).map(_._2.time).toSeq === Seq(7))
    assert(s.injected.get() === 3)
  }

  test("consumer-group offset IO rides out transient IO failures") {
    val root = java.nio.file.Files.createTempDirectory("retry-store").toString
    val s = new FlakyStore(root, failures = 3)
    s.createStore("proj", "logs", 2)
    s.arm = true
    val offsets = Map(0 -> 5L, 1 -> 2L)
    assert(s.commitGroupOffsets("proj", "logs", "etl", offsets) === offsets)
    assert(s.readGroupOffsets("proj", "logs", "etl") === offsets)
    assert(s.injected.get() === 3)
  }

  test("persistent failure surfaces after bounded retries") {
    val root = java.nio.file.Files.createTempDirectory("retry-store").toString
    val s = new FlakyStore(root, failures = Int.MaxValue)
    s.createStore("proj", "logs", 1)
    s.arm = true
    intercept[IOException] {
      s.appendSegment("proj", "logs", 0, "w1", Seq(rec(1)))
    }
    // first IO section: 1 initial try + 10 bounded retries
    assert(s.injected.get() === 11)
  }

  test("backoff doubles to the cap; final failure rethrows") {
    val sleeps = ArrayBuffer[Long]()
    var calls = 0
    intercept[IOException] {
      Retry.io(maxRetries = 5, initialBackoffMs = 1000, maxBackoffMs = 4000,
        sleep = sleeps += _) { calls += 1; throw new IOException("always") }
    }
    assert(calls === 6)
    assert(sleeps.toSeq === Seq(1000, 2000, 4000, 4000, 4000))
  }

  test("protocol signals pass through without any retry or sleep") {
    val sleeps = ArrayBuffer[Long]()
    var calls = 0
    intercept[java.nio.file.NoSuchFileException] {
      Retry.io(sleep = sleeps += _) {
        calls += 1; throw new java.nio.file.NoSuchFileException("gone")
      }
    }
    intercept[java.nio.file.FileAlreadyExistsException] {
      Retry.io(sleep = sleeps += _) {
        calls += 1; throw new java.nio.file.FileAlreadyExistsException("taken")
      }
    }
    intercept[IllegalArgumentException] {
      Retry.io(sleep = sleeps += _) {
        calls += 1; throw new IllegalArgumentException("contract violation")
      }
    }
    assert(calls === 3) // one attempt each
    assert(sleeps.isEmpty)
  }

  test("success after transient failures returns the value") {
    val sleeps = ArrayBuffer[Long]()
    var calls = 0
    val v = Retry.io(initialBackoffMs = 1, maxBackoffMs = 2,
      sleep = sleeps += _) {
      calls += 1
      if (calls < 4) throw new IOException("transient") else 42
    }
    assert(v === 42)
    assert(calls === 4)
    assert(sleeps.size === 3)
  }
}
