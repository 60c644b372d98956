package graft.store

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The fast path must ACCEPT every line the writer produces (otherwise
  * it is dead code and every read silently pays the Jackson fallback)
  * and must agree with Jackson wherever it accepts. */
class FastJsonlSpec extends AnyFunSuite {

  private def roundTrip(r: LogRecord): Unit = {
    val line = EmbeddedLogStore.recordToJson(r)
    val fast = FastJsonl.tryParse(line)
    assert(fast != null, s"fast path rejected writer output: $line")
    assert(fast === r)
    assert(fast === EmbeddedLogStore.jacksonToRecord(line))
  }

  test("tryParse accepts every line recordToJson writes") {
    roundTrip(LogRecord(0, "", "", Map.empty, Map.empty))
    roundTrip(LogRecord(Int.MaxValue, "", "", Map.empty, Map.empty))
    roundTrip(LogRecord(-7, "", "", Map.empty, Map.empty))
    roundTrip(LogRecord(1700000000, "topic", "host-1",
      Map("a" -> "b"), Map("k1" -> "v1", "k2" -> "v2")))
    roundTrip(LogRecord(7, "with \"quotes\"", "back\\slash",
      Map("tab\there" -> "new\nline", "cr\rx" -> "ctl\u0001y"),
      Map("uni 的" -> "{\"fake\":\"json\"}", "" -> "")))
  }

  test("tryParse accepts randomized writer output (500 records)") {
    val rng = new scala.util.Random(7)
    val pool = Seq("", "plain", "q\"q", "b\\b", "t\tt", "n\nn", "r\rr",
      "c\u0002c", "uni的", "{}:,", " sp ")
    def str() = pool(rng.nextInt(pool.length)) +
      rng.alphanumeric.take(rng.nextInt(6)).mkString
    (0 until 500).foreach { i =>
      roundTrip(LogRecord(rng.nextInt(Int.MaxValue), str(), str(),
        Map(str() -> str()), Map("i" -> i.toString, str() -> str())))
    }
  }

  test("tryParse equals the Jackson parse on every line the grammar admits") {
    val rng = new scala.util.Random(11)
    val lines = JsonlSamples.writerLines(rng, 300) ++ JsonlSamples.variantLines(rng, 700)
    lines.foreach { line =>
      val fast = FastJsonl.tryParse(line)
      assert(fast != null, line)
      assert(fast === EmbeddedLogStore.jacksonToRecord(line), line)
    }
    // some variant lines hold non-writer escapes and repeated keys
    assert(lines.exists(_.contains("\\u00")))
    assert(lines.exists(l => "\\\\u00[0-9a-f]*[A-F]".r.findFirstIn(l).isDefined))
  }

  test("lines outside the writer's grammar are rejected, never misparsed") {
    JsonlSamples.RejectedLines.foreach { line =>
      assert(FastJsonl.tryParse(line) == null, line)
      // jsonToRecord is Jackson's answer on them, or its error
      val viaStore = Try(EmbeddedLogStore.jsonToRecord(line))
      val jackson = Try(EmbeddedLogStore.jacksonToRecord(line))
      assert(viaStore.toOption === jackson.toOption, line)
      assert(viaStore.isFailure === jackson.isFailure, line)
    }
    // Jackson reads a repeated key as its last value, as the scan does
    assert(EmbeddedLogStore.jacksonToRecord(
      """{"time":5,"topic":"a","source":"b","contents":{"k":"v","k":"w"}}""")
      .contents === Map("k" -> "w"))
  }
}
