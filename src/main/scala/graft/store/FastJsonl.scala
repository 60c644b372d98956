package graft.store

/** Zero-dependency scanner for the exact JSONL shape
  * [[EmbeddedLogStore.recordToJson]] writes:
  * `{"time":N,"topic":S,"source":S,"tags":{S:S,...},"contents":{S:S,...}}`
  * with the writer's escape set (`\" \\ \n \r \t \uXXXX`, written by
  * [[appendString]]). One pass
  * checks the whole line against that grammar and reports each field to a
  * [[Visitor]] as a span of the line, so a caller materialises only the
  * fields it needs. Strict: any deviation (unexpected key order,
  * whitespace, other escapes, other types, a time the writer could not
  * have written) fails the scan and the caller falls back to Jackson — so
  * the fast path can only ever be a performance choice, never a semantic
  * one. Its two visitors are [[tryParse]] (a [[LogRecord]], for the
  * record-level store read) and the connector's row decoder
  * (`graft.connector.RowDecoder`, straight into the pruned schema). */
object FastJsonl {

  /** Receives one line's fields in line order: time, topic, source, each
    * tag, each content. A string is the span [start, end) of the line
    * between its quotes; `esc` says the span holds a backslash, so it is
    * not the value itself but its escaped form ([[string]] resolves
    * either). Duplicate keys are reported as they occur. Nothing reported
    * stands until [[scan]] has returned true. */
  trait Visitor {
    def time(t: Int): Unit
    def topic(s: Int, e: Int, esc: Boolean): Unit
    def source(s: Int, e: Int, esc: Boolean): Unit
    def tag(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int, vEsc: Boolean): Unit
    def content(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int, vEsc: Boolean): Unit
  }

  /** Scans `line` into `v`; false on any deviation from the grammar. */
  def scan(line: String, v: Visitor): Boolean = new Scanner(line, v).line()

  /** The record of a line in the writer's grammar; null otherwise. */
  def tryParse(line: String): LogRecord = {
    val b = new RecordVisitor(line)
    if (scan(line, b)) b.result else null
  }

  /** The string value of the span [s, e) of `line`. */
  def string(line: String, s: Int, e: Int, esc: Boolean): String =
    if (esc) unescape(line, s, e) else line.substring(s, e)

  /** Appends `s` as a quoted JSON string in the writer's escape set, the
    * inverse of [[unescape]]: `"` and `\` backslashed, `\n \r \t` by
    * letter, every other control char as `\u00XX`. Runs of plain chars
    * are copied whole. */
  def appendString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var run = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') {
        sb.append(s, run, i).append('\\')
        c match {
          case '"' | '\\' => sb.append(c)
          case '\n' => sb.append('n')
          case '\r' => sb.append('r')
          case '\t' => sb.append('t')
          case _ => sb.append("u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
        }
        run = i + 1
      }
      i += 1
    }
    sb.append(s, run, s.length).append('"')
  }

  /** `s` as a quoted JSON string ([[appendString]]). */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    appendString(sb, s)
    sb.toString
  }

  private val Hex = "0123456789abcdef"

  /** Resolves the escapes of a span the scanner accepted. */
  def unescape(line: String, s: Int, e: Int): String = {
    val sb = new java.lang.StringBuilder(e - s)
    var i = s
    while (i < e) {
      val c = line.charAt(i)
      if (c != '\\') { sb.append(c); i += 1 }
      else {
        line.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            var code = 0
            var j = i + 2
            while (j < i + 6) { code = code * 16 + Character.digit(line.charAt(j), 16); j += 1 }
            sb.append(code.toChar); i += 6
          case q => sb.append(q); i += 2 // '"' or '\\'
        }
      }
    }
    sb.toString
  }

  private final class RecordVisitor(line: String) extends Visitor {
    private var t = 0
    private var topicStr: String = _
    private var sourceStr: String = _
    private val tags = Map.newBuilder[String, String]
    private val contents = Map.newBuilder[String, String]
    def time(t: Int): Unit = this.t = t
    def topic(s: Int, e: Int, esc: Boolean): Unit = topicStr = string(line, s, e, esc)
    def source(s: Int, e: Int, esc: Boolean): Unit = sourceStr = string(line, s, e, esc)
    def tag(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int, vEsc: Boolean): Unit =
      tags += string(line, ks, ke, kEsc) -> string(line, vs, ve, vEsc)
    def content(ks: Int, ke: Int, kEsc: Boolean, vs: Int, ve: Int, vEsc: Boolean): Unit =
      contents += string(line, ks, ke, kEsc) -> string(line, vs, ve, vEsc)
    def result: LogRecord = LogRecord(t, topicStr, sourceStr, tags.result(), contents.result())
  }

  /** Per-line cursor: one instance per scan, safe under concurrent
    * reader tasks. */
  private final class Scanner(s: String, v: Visitor) {
    private var i = 0
    private var esc = false // whether the last string scanned held an escape

    def line(): Boolean = {
      if (!expect("{\"time\":")) return false
      if (!time()) return false
      if (!expect(",\"topic\":")) return false
      var st = i + 1
      var en = str(); if (en < 0) return false
      v.topic(st, en, esc)
      if (!expect(",\"source\":")) return false
      st = i + 1
      en = str(); if (en < 0) return false
      v.source(st, en, esc)
      if (!expect(",\"tags\":{") || !obj(tags = true)) return false
      if (!expect(",\"contents\":{") || !obj(tags = false)) return false
      // obj() already consumed the contents object's closing brace —
      // exactly one outer '}' remains in writer output
      expect("}") && i == s.length
    }

    private def expect(lit: String): Boolean = {
      if (!s.startsWith(lit, i)) return false
      i += lit.length; true
    }

    /** An Int as `Int.toString` writes it: no '+', no leading zero, no
      * "-0", in range. */
    private def time(): Boolean = {
      val neg = i < s.length && s.charAt(i) == '-'
      if (neg) i += 1
      val d0 = i
      var t = 0L
      while (i < s.length && i - d0 < 11 && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        t = t * 10 + (s.charAt(i) - '0'); i += 1
      }
      val digits = i - d0
      if (digits == 0 || digits > 10 || (digits > 1 && s.charAt(d0) == '0') ||
        (neg && t == 0)) return false
      if (neg) t = -t
      if (t < Int.MinValue || t > Int.MaxValue) return false
      v.time(t.toInt)
      true
    }

    /** The quoted string at the cursor: returns the index of its closing
      * quote and moves past it, setting [[esc]]; -1 on any deviation. */
    private def str(): Int = {
      if (i >= s.length || s.charAt(i) != '"') return -1
      i += 1
      esc = false
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return i - 1 }
        if (c == '\\') {
          if (i + 1 >= s.length) return -1
          s.charAt(i + 1) match {
            case '"' | '\\' | 'n' | 'r' | 't' => i += 2
            case 'u' if i + 6 <= s.length && hex(i + 2) && hex(i + 3) &&
              hex(i + 4) && hex(i + 5) => i += 6
            case _ => return -1 // an escape the writer never emits
          }
          esc = true
        } else if (c < ' ') return -1 // raw control char: not ours
        else i += 1
      }
      -1 // unterminated
    }

    private def hex(j: Int): Boolean = {
      val c = s.charAt(j)
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    }

    /** `k:v,...}` with the open brace already consumed. */
    private def obj(tags: Boolean): Boolean = {
      if (i < s.length && s.charAt(i) == '}') { i += 1; return true }
      while (true) {
        val ks = i + 1
        val ke = str(); if (ke < 0) return false
        val kEsc = esc
        if (i >= s.length || s.charAt(i) != ':') return false
        i += 1
        val vs = i + 1
        val ve = str(); if (ve < 0) return false
        if (tags) v.tag(ks, ke, kEsc, vs, ve, esc)
        else v.content(ks, ke, kEsc, vs, ve, esc)
        if (i >= s.length) return false
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; return true
          case _ => return false
        }
      }
      false
    }
  }
}
