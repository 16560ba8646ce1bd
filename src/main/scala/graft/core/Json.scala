package graft.core

import scala.collection.mutable

/** Minimal canonical JSON tree for the record-transform engine.
  *
  * A hand-rolled AST (rather than a library tree) because the engine's
  * correctness contract is *byte-exact serialization*: rowkeys are a
  * CRC32 over a key-sorted compact rendering, and manifests embed that
  * same rendering (reference: MessageUtils.kt:120-149 and the golden
  * manifest in UCHistoricDataImporterSpec.kt:129-221). We therefore
  * control insertion order, duplicate-key semantics (last value wins,
  * first position kept) and number formatting exactly.
  *
  * Two renderers:
  *  - `renderCompact` — klaxon-style (`JsonObject.toJsonString`):
  *    compact `{"k":v}`, integers normalized, floats via Double.toString.
  *    Used for rowkeys / manifest ids.
  *  - `renderRecord` — Gson-style (`GsonBuilder().serializeNulls()`):
  *    like compact but preserves the original number literal and
  *    HTML-escapes `< > & = '` the way Gson's default writer does.
  *    Used to serialize the transformed record into `dbObject`.
  */
sealed trait JValue {
  def isObj: Boolean = this.isInstanceOf[JObj]
}
case object JNull extends JValue
final case class JBool(value: Boolean) extends JValue
/** `raw` is the literal from the source text (or a canonical literal for
  * programmatically built numbers). */
final case class JNum(raw: String) extends JValue {
  def toDouble: Double = raw.toDouble
  def toLongExact: Option[Long] =
    if (raw.exists(c => c == '.' || c == 'e' || c == 'E')) None
    else try Some(raw.toLong) catch { case _: NumberFormatException => None }
}
final case class JStr(value: String) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue
final class JObj private (private val fields: mutable.LinkedHashMap[String, JValue]) extends JValue {
  def get(key: String): Option[JValue] = fields.get(key)
  def has(key: String): Boolean = fields.contains(key)
  def put(key: String, v: JValue): JObj = { fields.put(key, v); this }
  def remove(key: String): JObj = { fields.remove(key); this }
  /** remove-then-add: field moves to the END, matching Gson JsonObject
    * remove+add as used by HBaseWriter.overwriteFieldValue. */
  def overwrite(key: String, v: JValue): JObj = { fields.remove(key); fields.put(key, v); this }
  def size: Int = fields.size
  def keys: Iterator[String] = fields.keysIterator
  def entries: Iterator[(String, JValue)] = fields.iterator
  def deepCopy: JObj = {
    val m = mutable.LinkedHashMap.empty[String, JValue]
    fields.foreach { case (k, v) => m.put(k, Json.deepCopy(v)) }
    new JObj(m)
  }
  override def equals(o: Any): Boolean = o match {
    case other: JObj => fields == other.fields
    case _ => false
  }
  override def hashCode: Int = fields.hashCode
  override def toString: String = Json.renderCompact(this)
}
object JObj {
  def empty: JObj = new JObj(mutable.LinkedHashMap.empty)
  def apply(kvs: (String, JValue)*): JObj = {
    val m = mutable.LinkedHashMap.empty[String, JValue]
    kvs.foreach { case (k, v) => m.put(k, v) }
    new JObj(m)
  }
}

final case class JsonParseException(msg: String, pos: Int) extends RuntimeException(s"$msg at $pos")

object Json {

  def deepCopy(v: JValue): JValue = v match {
    case o: JObj => o.deepCopy
    case JArr(items) => JArr(items.map(deepCopy))
    case other => other
  }

  // ---------------------------------------------------------------- parse

  def parse(text: String): JValue = {
    val p = new P(text)
    p.skipWs()
    val v = p.value()
    p.skipWs()
    if (!p.eof) throw JsonParseException("trailing content", p.pos)
    v
  }

  /** Parse expecting a top-level object (Gson `fromJson(..., JsonObject)`). */
  def parseObject(text: String): JObj = parse(text) match {
    case o: JObj => o
    case other => throw JsonParseException(s"expected object, got ${other.getClass.getSimpleName}", 0)
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && (s.charAt(pos) == ' ' || s.charAt(pos) == '\t' || s.charAt(pos) == '\n' || s.charAt(pos) == '\r')) pos += 1
    private def fail(m: String) = throw JsonParseException(m, pos)
    private def expect(c: Char): Unit = {
      if (eof || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }
    def value(): JValue = {
      if (eof) fail("unexpected end")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => num()
        case c => fail(s"unexpected char '$c'")
      }
    }
    private def lit(l: String): Unit = {
      if (!s.startsWith(l, pos)) fail(s"expected $l")
      pos += l.length
    }
    private def obj(): JObj = {
      expect('{'); skipWs()
      val o = JObj.empty
      if (!eof && s.charAt(pos) == '}') { pos += 1; return o }
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':'); skipWs()
        o.put(k, value())
        skipWs()
        if (eof) fail("unterminated object")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; done = true
          case _ => fail("expected ',' or '}'")
        }
      }
      o
    }
    private def arr(): JArr = {
      expect('['); skipWs()
      val b = Vector.newBuilder[JValue]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return JArr(b.result()) }
      var done = false
      while (!done) {
        skipWs()
        b += value()
        skipWs()
        if (eof) fail("unterminated array")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; done = true
          case _ => fail("expected ',' or ']'")
        }
      }
      JArr(b.result())
    }
    /** Clean runs (no quote, no backslash) are copied whole: a string
      * without escapes is one `substring`, and a builder is only made
      * once the first backslash shows up. */
    private def str(): String = {
      expect('"')
      var sb: java.lang.StringBuilder = null
      var run = pos
      while (true) {
        while (pos < s.length && { val c = s.charAt(pos); c != '"' && c != '\\' }) pos += 1
        if (eof) fail("unterminated string")
        if (s.charAt(pos) == '"') {
          pos += 1
          return if (sb == null) s.substring(run, pos - 1) else sb.append(s, run, pos - 1).toString
        }
        if (sb == null) sb = new java.lang.StringBuilder(pos - run + 16)
        sb.append(s, run, pos)
        pos += 1
        if (eof) fail("bad escape")
        val e = s.charAt(pos); pos += 1
        e match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case '/' => sb.append('/')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'u' =>
            if (pos + 4 > s.length) fail("bad \\u escape")
            sb.append(Integer.parseInt(s.substring(pos, pos + 4), 16).toChar)
            pos += 4
          case other => fail(s"bad escape '\\$other'")
        }
        run = pos
      }
      sys.error("unreachable")
    }
    private def num(): JNum = {
      val start = pos
      if (!eof && s.charAt(pos) == '-') pos += 1
      while (!eof && s.charAt(pos) >= '0' && s.charAt(pos) <= '9') pos += 1
      if (!eof && s.charAt(pos) == '.') {
        pos += 1
        while (!eof && s.charAt(pos) >= '0' && s.charAt(pos) <= '9') pos += 1
      }
      if (!eof && (s.charAt(pos) == 'e' || s.charAt(pos) == 'E')) {
        pos += 1
        if (!eof && (s.charAt(pos) == '+' || s.charAt(pos) == '-')) pos += 1
        while (!eof && s.charAt(pos) >= '0' && s.charAt(pos) <= '9') pos += 1
      }
      if (pos == start) fail("bad number")
      val raw = s.substring(start, pos)
      // validate it is actually numeric
      try { raw.toDouble } catch { case _: NumberFormatException => fail(s"bad number '$raw'") }
      JNum(raw)
    }
  }

  // --------------------------------------------------------------- render

  /** klaxon-style: compact, integers via BigInt (normalizes leading
    * zeros), floats via Double.toString (1.50 -> "1.5"), minimal string
    * escaping plus \\uXXXX for control / 0x7f-0x9f / U+2000-U+20FF. */
  def renderCompact(v: JValue): String = {
    val sb = new java.lang.StringBuilder
    renderTo(sb, v, gson = false)
    sb.toString
  }

  /** Gson serializeNulls-style: compact, original number literals,
    * HTML-safe escaping of < > & = ' plus U+2028/U+2029. */
  def renderRecord(v: JValue): String = {
    val sb = new java.lang.StringBuilder
    renderTo(sb, v, gson = true)
    sb.toString
  }

  // java.lang.StringBuilder, not Scala's: escapeTo appends clean runs
  // with append(CharSequence, start, end), which Scala's builder lacks
  // (the call would auto-tuple into append(Any))
  private def renderTo(sb: java.lang.StringBuilder, v: JValue, gson: Boolean): Unit =
    v match {
      case JNull => sb.append("null")
      case JBool(b) => sb.append(if (b) "true" else "false")
      case n: JNum => sb.append(if (gson) n.raw else klaxonNum(n))
      case JStr(s) => sb.append('"'); escapeTo(sb, s, gson); sb.append('"')
      case JArr(items) =>
        sb.append('[')
        var first = true
        items.foreach { it =>
          if (!first) sb.append(',')
          first = false
          renderTo(sb, it, gson)
        }
        sb.append(']')
      case o: JObj =>
        sb.append('{')
        var first = true
        o.entries.foreach { case (k, value) =>
          if (!first) sb.append(',')
          first = false
          sb.append('"'); escapeTo(sb, k, gson); sb.append('"'); sb.append(':')
          renderTo(sb, value, gson)
        }
        sb.append('}')
    }

  private def klaxonNum(n: JNum): String =
    if (n.raw.exists(c => c == '.' || c == 'e' || c == 'E')) n.raw.toDouble.toString
    else BigInt(n.raw).toString

  /** Appends `s` with every character that needs escaping replaced by
    * its escape; the runs between are appended whole, so a string with
    * nothing to escape is one append. */
  private def escapeTo(sb: java.lang.StringBuilder, s: String, gson: Boolean): Unit = {
    var run = 0
    var i = 0
    while (i < s.length) {
      val e = if (gson) gsonEscapeOf(s.charAt(i)) else klaxonEscapeOf(s.charAt(i))
      if (e != null) {
        sb.append(s, run, i).append(e)
        run = i + 1
      }
      i += 1
    }
    if (run == 0) sb.append(s) else sb.append(s, run, s.length)
  }

  /** klaxon's escape of `c`, or null when it is written as is. */
  private def klaxonEscapeOf(c: Char): String = c match {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case '\b' => "\\b"
    case '\f' => "\\f"
    case _ if c < ' ' || (c >= 0x7f && c <= 0x9f) || (c >= 0x2000 && c <= 0x20ff) => unicodeEscape(c)
    case _ => null
  }

  /** Gson's escape of `c`, or null when it is written as is. */
  private def gsonEscapeOf(c: Char): String = c match {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case '\b' => "\\b"
    case '\f' => "\\f"
    case '<' => "\\u003c"
    case '>' => "\\u003e"
    case '&' => "\\u0026"
    case '=' => "\\u003d"
    case '\'' => "\\u0027"
    case _ if c < ' ' || c == 0x2028 || c == 0x2029 => unicodeEscape(c)
    case _ => null
  }

  private val HexDigits = "0123456789abcdef"

  /** `\\u` plus four lowercase hex digits. */
  private def unicodeEscape(c: Char): String =
    new String(Array('\\', 'u', HexDigits.charAt((c >> 12) & 0xf), HexDigits.charAt((c >> 8) & 0xf),
      HexDigits.charAt((c >> 4) & 0xf), HexDigits.charAt(c & 0xf)))

  /** Top-level key sort (case-sensitive lexicographic), compact klaxon
    * rendering — MessageUtils.sortJsonByKey (MessageUtils.kt:127-133). */
  def sortByKeyCompact(o: JObj): String = {
    val sorted = JObj.empty
    o.entries.toSeq.sortBy(_._1).foreach { case (k, v) => sorted.put(k, v) }
    renderCompact(sorted)
  }
}
