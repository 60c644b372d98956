package graft.store

import scala.util.Random

/** Data lines for differential tests of the line parsers: the writer's
  * own output, lines in the strict grammar the writer never writes
  * (other `\u` escapes, repeated keys), and lines only Jackson reads. */
object JsonlSamples {
  val ContentKeys = Seq("k", "v", "w", "n", "uni的", "", "q\"q", "b\\b", "host")
  val TagKeys = Seq("host", "env", "tab\there", "")
  val Values = Seq("", "12", "-3", "007", "1.5", "+4", "99999999999", "true",
    "plain", "q\"q", "b\\b", "t\tt", "n\nn", "r\rr", "\u0001c", "uni的",
    "{\"fake\":\"json\"}", " sp ", "2023-11-14 22:13:20")

  private def pick[T](xs: Seq[T], rng: Random): T = xs(rng.nextInt(xs.length))

  private def value(rng: Random): String =
    pick(Values, rng) + (if (rng.nextBoolean()) "" else rng.alphanumeric.take(3).mkString)

  private def time(rng: Random): Int = rng.nextInt(4) match {
    case 0 => 0
    case 1 => Int.MaxValue
    case _ => 1700000000 + rng.nextInt(200)
  }

  /** `n` random records through [[EmbeddedLogStore.recordToJson]]. */
  def writerLines(rng: Random, n: Int): Seq[String] = (0 until n).map { _ =>
    def pairs(keys: Seq[String]) =
      (0 until rng.nextInt(5)).map(_ => pick(keys, rng) -> value(rng)).toMap
    EmbeddedLogStore.recordToJson(LogRecord(time(rng), value(rng), value(rng),
      pairs(TagKeys), pairs(ContentKeys)))
  }

  /** A JSON string of `s` with a random mix of escapes: the writer's,
    * `\u` in lower or upper case for any char, `\u` for quote and
    * backslash. */
  def quote(s: String, rng: Random): String = {
    val sb = new StringBuilder("\"")
    def u(c: Char) = if (rng.nextBoolean()) f"\\u${c.toInt}%04x" else f"\\u${c.toInt}%04X"
    s.foreach { c =>
      val alt = rng.nextInt(4) == 0
      c match {
        case '"' => sb.append(if (alt) u(c) else "\\\"")
        case '\\' => sb.append(if (alt) u(c) else "\\\\")
        case '\n' => sb.append(if (alt) u(c) else "\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < ' ' => sb.append(u(c))
        case _ => if (alt) sb.append(u(c)) else sb.append(c)
      }
    }
    sb.append('"').toString
  }

  /** `n` lines in the strict grammar with escapes the writer never
    * writes and keys that repeat within an object. */
  def variantLines(rng: Random, n: Int): Seq[String] = (0 until n).map { _ =>
    def obj(keys: Seq[String]) = (0 until rng.nextInt(6))
      .map(_ => quote(pick(keys, rng), rng) + ":" + quote(value(rng), rng)).mkString(",")
    s"""{"time":${time(rng)},"topic":${quote(value(rng), rng)},""" +
      s""""source":${quote(value(rng), rng)},"tags":{${obj(TagKeys)}},""" +
      s""""contents":{${obj(ContentKeys)}}}"""
  }

  /** Lines the strict grammar rejects: Jackson reads most of them, and
    * throws on the rest. */
  val RejectedLines: Seq[String] = Seq(
    """{"time":5, "topic":"a","source":"b","tags":{},"contents":{"k":"v"}}""",
    """{"topic":"a","time":5,"source":"b","tags":{},"contents":{"k":"v"}}""",
    """{"time":5,"topic":"a","source":"b","tags":{},"contents":{"k":"x\/y"}}""",
    """{"time":5,"topic":"a","source":"b","tags":{"host":"h"},"contents":{"v":7}}""",
    """{"time":5,"topic":"a","source":"b","tags":{},"contents":{"k":"\b\f"}}""",
    """{"time":"5","topic":"a","source":"b","tags":{},"contents":{"n":"1"}}""",
    """{"time":2147483648,"topic":"a","source":"b","tags":{},"contents":{}}""",
    """{"time":-0,"topic":"a","source":"b","tags":{},"contents":{}}""",
    """{"time":5,"topic":null,"source":"b","tags":{},"contents":{"k":"v"}}""",
    """{"time":5,"topic":"a","source":"b","contents":{"k":"v","k":"w"}}""",
    """{"time":5,"topic":"a","source":"b","tags":{},"contents":{"k":"v"},"x":1}""",
    "{\"time\":5,\"topic\":\"a\",\"source\":\"b\",\"tags\":{},\"contents\":{\"k\":\"\\u004\"}}",
    """{"time":007,"topic":"a","source":"b","tags":{},"contents":{}}""",
    """{"time":5,"topic":"a","source":"b","tags":{},"contents":{"k":"v"}""",
    "")
}
