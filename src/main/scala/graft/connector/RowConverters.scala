package graft.connector

import graft.store.{FastJsonl, LogRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** String→Catalyst and Catalyst→string conversion for the flat
  * string-pair wire model.
  *
  * Read side re-expresses Utils.makeConverter (reference
  * Utils.scala:101-150): byte/short/int/long/float/double/boolean,
  * decimal with comma stripping, timestamp (micros), date (days),
  * string. Write side re-expresses Utils.toConverter (Utils.scala:53-99):
  * everything stringified; binary/array/map rejected — the wire model is
  * flat strings (SURVEY.md §1.3).
  */
object RowConverters {

  type FieldReader = String => Any

  def makeReader(dt: DataType, nullable: Boolean): FieldReader = {
    val base: FieldReader = dt match {
      case ByteType => s => s.toByte
      case ShortType => s => s.toShort
      case IntegerType => s => s.toInt
      case LongType => s => s.toLong
      case FloatType => s => s.toFloat
      case DoubleType => s => s.toDouble
      case BooleanType => s => s.toBoolean
      case dtp: DecimalType =>
        s => Decimal(new java.math.BigDecimal(s.replaceAll(",", "")), dtp.precision, dtp.scale)
      case TimestampType => s =>
        // epoch seconds / millis / micros or SQL timestamp string
        if (s.forall(c => c.isDigit || c == '-')) epochToMicros(s.toLong)
        else DateTimeUtils.stringToTimestampAnsi(UTF8String.fromString(s),
          java.time.ZoneOffset.UTC)
      case DateType => s => DateTimeUtils.stringToDateAnsi(UTF8String.fromString(s))
      case StringType => s => UTF8String.fromString(s)
      // UDT values live in their sqlType representation inside Catalyst
      // rows: recurse on it (reference Utils.scala:145-146)
      case udt: UserDefinedType[_] => return makeReader(udt.sqlType, nullable)
      case other => throw new IllegalArgumentException(
        s"unsupported read type $other for the flat string wire model")
    }
    s => if (s == null) {
      if (!nullable) throw new IllegalArgumentException("null for non-nullable field")
      null
    } else base(s)
  }

  /** Heuristic epoch unit promotion: seconds (<1e11), millis (<1e14),
    * else micros — raw numeric times in contents are usually seconds. */
  private[connector] def epochToMicros(v: Long): Long =
    if (math.abs(v) < 100000000000L) v * 1000000L
    else if (math.abs(v) < 100000000000000L) v * 1000L
    else v

  /** Stringify one Catalyst value for the wire (writer side). */
  def valueToString(dt: DataType, v: Any): String = dt match {
    case _ if v == null => null
    case StringType => v.toString
    case TimestampType => v.toString // micros epoch
    case DateType => v.toString
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
    case udt: UserDefinedType[_] => valueToString(udt.sqlType, v)
    case BinaryType | _: ArrayType | _: MapType | _: StructType =>
      throw new IllegalArgumentException(
        s"unsupported write type $dt for the flat string wire model")
    case _ => v.toString
  }

  /** The record second a written `__time__` value stands for, read from
    * its typed value: integral numbers as seconds, TIMESTAMP micros,
    * fractional numbers and numeric STRINGs floored. A value outside
    * [0, Int.MaxValue], a non-numeric STRING or any other type fails the
    * write: a clamped or wrapped second would file the record at a time
    * no reader can tell from a real one. */
  def timeSeconds(dt: DataType, row: InternalRow, i: Int): Int = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"$Time of type ${dt.simpleString} $why: ${row.get(i, dt)}")
    def outside: Nothing = fail(s"is outside the record seconds [0, ${Int.MaxValue}]")
    def second(s: Long): Int = if (s < 0 || s > Int.MaxValue) outside else s.toInt
    def floorDouble(d: Double): Int =
      if (d.isNaN || d < 0 || d >= Int.MaxValue + 1.0) outside
      else math.floor(d).toInt
    // range first, so the floor's rescale is bounded by the value's own
    // digits; scale > precision means a value below 1
    def floorDecimal(d: java.math.BigDecimal): Int =
      if (d.signum < 0 || d.compareTo(MaxSecondExclusive) >= 0) outside
      else if (d.scale > d.precision) 0
      else d.setScale(0, java.math.RoundingMode.FLOOR).intValueExact
    dt match {
      case ByteType => second(row.getByte(i))
      case ShortType => second(row.getShort(i))
      case IntegerType => second(row.getInt(i))
      case LongType => second(row.getLong(i))
      case TimestampType => second(Math.floorDiv(row.getLong(i), 1000000L))
      case FloatType => floorDouble(row.getFloat(i))
      case DoubleType => floorDouble(row.getDouble(i))
      case d: DecimalType =>
        floorDecimal(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case StringType =>
        val d = try new java.math.BigDecimal(row.getUTF8String(i).toString.trim)
          catch { case _: NumberFormatException => fail("is not a number") }
        floorDecimal(d)
      case _ => fail("is not a record time type (integral, fractional, TIMESTAMP or numeric STRING)")
    }
  }

  private val MaxSecondExclusive = java.math.BigDecimal.valueOf(Int.MaxValue.toLong + 1)

  /** Metadata column names — reference constants,
    * LoghubSourceProvider.scala:255-262. */
  val LogProject = "__logProject__"
  val LogStore = "__logStore__"
  val Shard = "__shard__"
  val Time = "__time__"
  val Topic = "__topic__"
  val Source = "__source__"
  val Value = "__value__"
  val SequenceNumber = "__sequence_number__"
  val TagPrefix = "__tag__:"

  /** Default schema: 8 nullable strings
    * (LoghubSourceProvider.scala:264-274). */
  val DefaultSchema: StructType = StructType(Seq(
    StructField(LogProject, StringType),
    StructField(LogStore, StringType),
    StructField(Shard, StringType),
    StructField(Time, StringType),
    StructField(Topic, StringType),
    StructField(Source, StringType),
    StructField(Value, StringType),
    StructField(SequenceNumber, StringType)))

  def isDefaultSchema(s: StructType): Boolean =
    s.fields.map(f => (f.name, f.dataType)).sameElements(
      DefaultSchema.fields.map(f => (f.name, f.dataType)))

  /** Sequence number in the reference's `<logGroupIndex>-<logIndex>`
    * shape (LoghubSourceRDD.scala:144,166,196-199): our group is the
    * segment, the group index is the segment's base cursor (the cursor
    * of its first record — the reference seeds its group index from the
    * batch cursor the same way), and the log index is the record's
    * position within the segment. `base` is the base ordinal of the
    * segment the record was read from
    * ([[graft.store.EmbeddedLogStore#SegmentReader.segmentBase]]). */
  def sequenceNumber(base: Long, ordinal: Long): String =
    s"$base-${ordinal - base}"

  /** Build an InternalRow for a record under `schema`: fields matched by
    * name against contents, `__tag__:k` against tags, metadata columns
    * filled specially (LoghubSourceRDD.scala:183-219). Unmatched fields →
    * null; unknown incoming keys dropped. The readers decode lines with
    * [[RowDecoder]], which gives the same rows without the record; this
    * is its fallback and its reference. */
  def recordToRow(schema: StructType, readers: Array[FieldReader],
      project: String, store: String, shard: Int, ordinal: Long,
      r: LogRecord, seqNum: String): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      val raw: String = f.name match {
        case LogProject => project
        case LogStore => store
        case Shard => shard.toString
        case Time =>
          if (f.dataType == StringType)
            new java.sql.Timestamp(r.time * 1000L).toString
          else r.time.toString
        case Topic => r.topic
        case Source => r.source
        case Value => packValueJson(r)
        case SequenceNumber => seqNum
        case n if n.startsWith(TagPrefix) =>
          r.tags.getOrElse(n.substring(TagPrefix.length), null)
        case n => r.contents.getOrElse(n, null)
      }
      row.update(i, if (raw == null) null else readers(i)(raw))
      i += 1
    }
    row
  }

  /** Default-schema JSON packing of contents + "__tag__:k" tag entries
    * (LoghubSourceRDD.scala:154-176). */
  def packValueJson(r: LogRecord): String = {
    val sb = new java.lang.StringBuilder("{")
    var first = true
    def put(k: String, v: String): Unit = {
      if (!first) sb.append(',')
      first = false
      FastJsonl.appendString(sb, k); sb.append(':'); FastJsonl.appendString(sb, v)
    }
    r.contents.toSeq.sortBy(_._1).foreach { case (k, v) => put(k, v) }
    r.tags.toSeq.sortBy(_._1).foreach { case (k, v) => put(TagPrefix + k, v) }
    sb.append('}').toString
  }
}
