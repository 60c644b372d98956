package graft.connector

import graft.store.LogRecord
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
      appendJsonStr(sb, k); sb.append(':'); appendJsonStr(sb, v)
    }
    r.contents.toSeq.sortBy(_._1).foreach { case (k, v) => put(k, v) }
    r.tags.toSeq.sortBy(_._1).foreach { case (k, v) => put(TagPrefix + k, v) }
    sb.append('}').toString
  }

  private[connector] def appendJsonStr(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
