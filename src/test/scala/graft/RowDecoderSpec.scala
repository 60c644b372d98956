package graft

import graft.connector.{RowConverters, RowDecoder}
import graft.store.{EmbeddedLogStore, JsonlSamples}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** The direct line decoder is the record path, differentially: for every
  * schema and line, its row (or its error) is
  * `recordToRow(jacksonToRecord(line))`'s, and it drops exactly the lines
  * whose time is outside its range. */
class RowDecoderSpec extends AnyFunSuite {

  private val schemas: Seq[(String, StructType)] = Seq(
    "default" -> RowConverters.DefaultSchema,
    "typed" -> StructType.fromDDL("k STRING, v LONG, w DOUBLE, n INT, " +
      "__time__ TIMESTAMP, __topic__ STRING, __source__ STRING"),
    "pruned" -> StructType.fromDDL("v LONG"),
    "tags" -> StructType.fromDDL("`__tag__:host` STRING, `__tag__:missing` STRING, " +
      "`__tag__:` STRING, k STRING, `uni的` STRING"),
    "value" -> StructType.fromDDL("__value__ STRING, __time__ BIGINT"),
    "metadata" -> StructType.fromDDL("__sequence_number__ STRING, __shard__ INT, " +
      "__logProject__ STRING, __logStore__ STRING, __time__ INT"),
    "string time" -> StructType.fromDDL("__time__ STRING, k STRING"),
    "other types" -> StructType.fromDDL("v DECIMAL(20,2), w FLOAT, n BOOLEAN, " +
      "`q\"q` DATE, host SHORT, `b\\b` BYTE"),
    "not null" -> StructType.fromDDL("k STRING NOT NULL, v BIGINT NOT NULL, " +
      "__time__ TIMESTAMP NOT NULL"))

  private val Shard = 3

  /** What the reader returned before the decoder: the record path. */
  private def reference(schema: StructType, appendSeq: Boolean,
      range: Option[(Long, Long)], line: String, ord: Long,
      base: Long): Try[Option[Seq[Any]]] = Try {
    val readers = schema.fields.map(f => RowConverters.makeReader(f.dataType, f.nullable))
    val r = EmbeddedLogStore.jacksonToRecord(line)
    if (range.exists { case (lo, hi) => r.time < lo || r.time >= hi }) None
    else Some(RowConverters.recordToRow(schema, readers, "proj", "logs", Shard, ord, r,
      if (appendSeq) RowConverters.sequenceNumber(base, ord) else null).toSeq(schema))
  }

  private def sameOutcome(got: Try[Option[Seq[Any]]], want: Try[Option[Seq[Any]]],
      clue: => String): Unit = (got, want) match {
    case (Success(g), Success(w)) => assert(g === w, clue)
    case (Failure(g), Failure(w)) =>
      assert(g.getClass === w.getClass, clue)
      assert(g.getMessage === w.getMessage, clue)
    case _ => fail(s"decoder $got, record path $want: $clue")
  }

  private def differential(lines: Seq[String], range: Option[(Long, Long)]): Unit =
    for ((name, schema) <- schemas; appendSeq <- Seq(true, false)) {
      // one decoder reads every line, as a partition reader does
      val dec = new RowDecoder(schema, "proj", "logs", Shard, appendSeq, range)
      lines.zipWithIndex.foreach { case (line, i) =>
        val (ord, base) = (1000L + i, 1000L + i - i % 7)
        val got = Try(Option(dec.decode(line, ord, base)).map(_.toSeq(schema)))
        sameOutcome(got, reference(schema, appendSeq, range, line, ord, base),
          s"schema $name appendSeq $appendSeq range $range line $line")
      }
    }

  private val rng = new scala.util.Random(2024)
  private val lines = JsonlSamples.writerLines(rng, 150) ++
    JsonlSamples.variantLines(rng, 250) ++ JsonlSamples.RejectedLines

  test("decoder rows equal recordToRow of the Jackson parse on every schema") {
    differential(lines, None)
  }

  test("decoder drops exactly the lines outside its time range") {
    differential(lines, Some((1700000050L, 1700000150L)))
    differential(lines, Some((1700000100L, Int.MaxValue + 1L)))
    differential(lines, Some((Long.MinValue, 1L)))
  }

  test("__value__ is packed from the line's own spans byte for byte") {
    val schema = StructType.fromDDL("__value__ STRING")
    val dec = new RowDecoder(schema, "p", "s", 0, appendSeq = false, None)
    // sorted contents, then sorted tags; a repeated key keeps its last value;
    // a non-writer escape is re-escaped the writer's way
    val line = """{"time":1,"topic":"","source":"","tags":{"z":"1","a":"A"},""" +
      """"contents":{"k":"x","b":"q\"q","k":"y","":""" + "\"\\u000A\"}}"
    assert(dec.decode(line, 0, 0).getUTF8String(0).toString ===
      """{"":"\n","b":"q\"q","k":"y","__tag__:a":"A","__tag__:z":"1"}""")
  }
}
