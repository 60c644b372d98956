package graft.connector

import graft.store.{EmbeddedLogStore, FastJsonl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A data line straight into a row of the (pruned) read schema, the
  * reference's decode-into-the-user-schema read (LoghubSourceRDD.scala:
  * 178-219): one [[FastJsonl]] scan records where each field sits, then
  * only the schema's fields are materialised, in schema order, and
  * `__value__` is packed from the line's spans. No [[graft.store.LogRecord]]
  * is built. Every row equals [[RowConverters.recordToRow]] of the
  * line's record — a line the strict grammar rejects goes exactly that
  * way — and a line whose time is outside `timeRange` ([lo, hi) epoch
  * seconds) gives null: the reader's time test and its row come from the
  * same parse. One per partition reader; not thread-safe. */
final class RowDecoder(schema: StructType, project: String, store: String,
    shard: Int, appendSeq: Boolean, timeRange: Option[(Long, Long)])
    extends FastJsonl.Visitor {
  import RowConverters._
  import RowDecoder._

  private val n = schema.length
  private val readers = schema.fields.map(f => makeReader(f.dataType, f.nullable))
  private val kind: Array[Int] = schema.fields.map(_.name match {
    case LogProject | LogStore | Shard => KConst
    case Time => KTime
    case Topic => KTopic
    case Source => KSource
    case Value => KValue
    case SequenceNumber => KSeq
    case name if name.startsWith(TagPrefix) => KTag
    case _ => KContent
  })
  private val conv: Array[Int] = schema.fields.map(_.dataType match {
    case StringType => CString
    case LongType => CLong
    case IntegerType => CInt
    case TimestampType => CTimestamp
    case _ => COther
  })
  /** The content or tag key each KContent / KTag field reads. */
  private val key: Array[String] = schema.fields.zip(kind).map {
    case (f, KTag) => f.name.substring(TagPrefix.length)
    case (f, _) => f.name
  }
  private val tagFields = kind.indices.filter(kind(_) == KTag).toArray
  private val contentFields = kind.indices.filter(kind(_) == KContent).toArray
  private val packsValue = kind.contains(KValue)
  private val lo = timeRange.fold(Long.MinValue)(_._1)
  private val hi = timeRange.fold(Long.MaxValue)(_._2)
  // project, store and shard convert once, on the first row that reads them
  private val consts = new Array[Any](n)
  private val constDone = new Array[Boolean](n)

  // ---- the current line's spans ------------------------------------
  private var line: String = _
  private var t = 0
  private var topicS, topicE, sourceS, sourceE = 0
  private var topicEsc, sourceEsc = false
  private val spanS = new Array[Int](n) // -1: key absent from the line
  private val spanE = new Array[Int](n)
  private val spanEsc = new Array[Boolean](n)
  // every tag, then every content pair, for `__value__`: PairInts per pair
  private var pairs = new Array[Int](16 * PairInts)
  private var nPairs = 0
  private var nTags = 0
  private var order = new Array[Int](16)

  /** The row of `line`, the record at ordinal `ord` of the segment based
    * at `base`; null when its time is outside the range. */
  def decode(line: String, ord: Long, base: Long): InternalRow = {
    this.line = line
    nPairs = 0; nTags = 0
    java.util.Arrays.fill(spanS, -1)
    if (!FastJsonl.scan(line, this)) {
      // the fast scan already failed, so jsonToRecord would be Jackson's
      val r = EmbeddedLogStore.jacksonToRecord(line)
      return if (r.time < lo || r.time >= hi) null
        else recordToRow(schema, readers, project, store, shard, ord, r,
          if (appendSeq) sequenceNumber(base, ord) else null)
    }
    if (t < lo || t >= hi) return null
    val row = new GenericInternalRow(n)
    var i = 0
    while (i < n) {
      row.update(i, kind(i) match {
        case KConst => const(i)
        case KTime => timeValue(i)
        case KTopic => convert(i, topicS, topicE, topicEsc)
        case KSource => convert(i, sourceS, sourceE, sourceEsc)
        case KValue => readers(i)(packValue())
        case KSeq => if (appendSeq) readers(i)(sequenceNumber(base, ord)) else null
        case _ => if (spanS(i) < 0) null else convert(i, spanS(i), spanE(i), spanEsc(i))
      })
      i += 1
    }
    row
  }

  // ---- FastJsonl.Visitor ----------------------------------------------
  def time(t: Int): Unit = this.t = t
  def topic(s: Int, e: Int, esc: Boolean): Unit = { topicS = s; topicE = e; topicEsc = esc }
  def source(s: Int, e: Int, esc: Boolean): Unit = { sourceS = s; sourceE = e; sourceEsc = esc }
  def tag(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int, vEsc: Boolean): Unit = {
    if (packsValue) { addPair(ks, ke, kEsc, vs, ve, vEsc); nTags += 1 }
    fill(tagFields, ks, ke, kEsc, vs, ve, vEsc)
  }
  def content(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int, vEsc: Boolean): Unit = {
    if (packsValue) addPair(ks, ke, kEsc, vs, ve, vEsc)
    fill(contentFields, ks, ke, kEsc, vs, ve, vEsc)
  }

  /** Points every field reading this key at the value: a repeated key's
    * last occurrence wins, as in the record's Map. */
  private def fill(fields: Array[Int], ks: Int, ke: Int, kEsc: Boolean,
      vs: Int, ve: Int, vEsc: Boolean): Unit = {
    var j = 0
    while (j < fields.length) {
      val f = fields(j)
      val name = key(f)
      if (if (kEsc) FastJsonl.unescape(line, ks, ke) == name
          else ke - ks == name.length && line.regionMatches(ks, name, 0, name.length)) {
        spanS(f) = vs; spanE(f) = ve; spanEsc(f) = vEsc
      }
      j += 1
    }
  }

  private def addPair(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int,
      vEsc: Boolean): Unit = {
    if ((nPairs + 1) * PairInts > pairs.length)
      pairs = java.util.Arrays.copyOf(pairs, pairs.length * 2)
    val p = nPairs * PairInts
    pairs(p) = ks; pairs(p + 1) = ke; pairs(p + 2) = if (kEsc) 1 else 0
    pairs(p + 3) = vs; pairs(p + 4) = ve; pairs(p + 5) = if (vEsc) 1 else 0
    nPairs += 1
  }

  // ---- conversion, as recordToRow does it ----------------------------
  private def const(i: Int): Any = {
    if (!constDone(i)) {
      val raw = schema(i).name match {
        case LogProject => project
        case LogStore => store
        case _ => shard.toString
      }
      consts(i) = if (raw == null) null else readers(i)(raw)
      constDone(i) = true
    }
    consts(i)
  }

  private def timeValue(i: Int): Any = conv(i) match {
    case CTimestamp => epochToMicros(t)
    case CLong => t.toLong
    case CInt => t
    case CString => readers(i)(new java.sql.Timestamp(t * 1000L).toString)
    case _ => readers(i)(t.toString)
  }

  /** A span's value under field `i`'s type. Integral parses read the
    * span in place; one that fails runs the field's reader on the string,
    * which throws the reader's own error. */
  private def convert(i: Int, s: Int, e: Int, esc: Boolean): Any =
    if (esc) readers(i)(FastJsonl.unescape(line, s, e))
    else conv(i) match {
      case CString => utf8(s, e)
      case CLong =>
        try java.lang.Long.parseLong(line, s, e, 10)
        catch { case _: NumberFormatException => readers(i)(line.substring(s, e)) }
      case CInt =>
        try Integer.parseInt(line, s, e, 10)
        catch { case _: NumberFormatException => readers(i)(line.substring(s, e)) }
      case _ => readers(i)(line.substring(s, e))
    }

  private def utf8(s: Int, e: Int): UTF8String = {
    val bytes = new Array[Byte](e - s)
    var j = s
    while (j < e) {
      val c = line.charAt(j)
      if (c >= 0x80) return UTF8String.fromString(line.substring(s, e))
      bytes(j - s) = c.toByte
      j += 1
    }
    UTF8String.fromBytes(bytes)
  }

  // ---- __value__, byte-identical to packValueJson --------------------
  private def packValue(): String = {
    val sb = new java.lang.StringBuilder(line.length)
    sb.append('{')
    val none = emit(sb, nTags, nPairs, "", first = true) // contents
    emit(sb, 0, nTags, TagPrefix, none)
    sb.append('}').toString
  }

  /** Appends pairs [from, until) sorted by key, keeping the last pair of
    * each key; returns whether nothing has been appended yet. */
  private def emit(sb: java.lang.StringBuilder, from: Int, until: Int,
      prefix: String, first: Boolean): Boolean = {
    val m = until - from
    if (order.length < m) order = new Array[Int](m * 2)
    var a = 0
    while (a < m) { // stable insertion sort: equal keys keep line order
      val p = from + a
      var b = a
      while (b > 0 && keyCompare(order(b - 1), p) > 0) { order(b) = order(b - 1); b -= 1 }
      order(b) = p
      a += 1
    }
    var none = first
    a = 0
    while (a < m) {
      val p = order(a)
      if (a + 1 == m || keyCompare(p, order(a + 1)) != 0) {
        if (!none) sb.append(',')
        none = false
        val o = p * PairInts
        appendSpan(sb, prefix, pairs(o), pairs(o + 1), pairs(o + 2) == 1)
        sb.append(':')
        appendSpan(sb, "", pairs(o + 3), pairs(o + 4), pairs(o + 5) == 1)
      }
      a += 1
    }
    none
  }

  /** A span with no escape is already its own JSON string body. */
  private def appendSpan(sb: java.lang.StringBuilder, prefix: String, s: Int,
      e: Int, esc: Boolean): Unit =
    if (esc) FastJsonl.appendString(sb, prefix + FastJsonl.unescape(line, s, e))
    else sb.append('"').append(prefix).append(line, s, e).append('"')

  /** `String.compareTo` of two pairs' keys. */
  private def keyCompare(p: Int, q: Int): Int = {
    val po = p * PairInts
    val qo = q * PairInts
    if (pairs(po + 2) == 1 || pairs(qo + 2) == 1)
      return pairKey(po).compareTo(pairKey(qo))
    val ps = pairs(po)
    val pe = pairs(po + 1)
    val qs = pairs(qo)
    val qe = pairs(qo + 1)
    val len = math.min(pe - ps, qe - qs)
    var k = 0
    while (k < len) {
      val d = line.charAt(ps + k) - line.charAt(qs + k)
      if (d != 0) return d
      k += 1
    }
    (pe - ps) - (qe - qs)
  }

  private def pairKey(o: Int): String =
    FastJsonl.string(line, pairs(o), pairs(o + 1), pairs(o + 2) == 1)
}

private object RowDecoder {
  final val KConst = 0
  final val KTime = 1
  final val KTopic = 2
  final val KSource = 3
  final val KValue = 4
  final val KSeq = 5
  final val KTag = 6
  final val KContent = 7

  final val COther = 0
  final val CString = 1
  final val CLong = 2
  final val CInt = 3
  final val CTimestamp = 4

  /** Ints per `__value__` pair: key start, end, escaped; value start,
    * end, escaped. */
  final val PairInts = 6
}
