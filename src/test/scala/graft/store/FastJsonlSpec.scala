package graft.store

import org.scalatest.funsuite.AnyFunSuite

/** The fast path must ACCEPT every line the writer produces (otherwise
  * it is dead code and every read silently pays the Jackson fallback)
  * and must agree with Jackson wherever it accepts. */
class FastJsonlSpec extends AnyFunSuite {

  private def roundTrip(r: LogRecord): Unit = {
    val line = EmbeddedLogStore.recordToJson(r)
    val fast = FastJsonl.tryParse(line)
    assert(fast != null, s"fast path rejected writer output: $line")
    assert(fast === r)
    assert(fast === EmbeddedLogStore.jsonToRecord(line))
  }

  test("tryParse accepts every line recordToJson writes") {
    roundTrip(LogRecord(0, "", "", Map.empty, Map.empty))
    roundTrip(LogRecord(1700000000, "topic", "host-1",
      Map("a" -> "b"), Map("k1" -> "v1", "k2" -> "v2")))
    roundTrip(LogRecord(7, "with \"quotes\"", "back\\slash",
      Map("tab\there" -> "new\nline", "cr\rx" -> "ctly"),
      Map("uni 的" -> "{\"fake\":\"json\"}", "" -> "")))
  }

  test("tryParse accepts randomized writer output (500 records)") {
    val rng = new scala.util.Random(7)
    val pool = Seq("", "plain", "q\"q", "b\\b", "t\tt", "n\nn", "r\rr",
      "cc", "uni的", "{}:,", " sp ")
    def str() = pool(rng.nextInt(pool.length)) +
      rng.alphanumeric.take(rng.nextInt(6)).mkString
    (0 until 500).foreach { i =>
      roundTrip(LogRecord(rng.nextInt(Int.MaxValue), str(), str(),
        Map(str() -> str()), Map("i" -> i.toString, str() -> str())))
    }
  }
}
