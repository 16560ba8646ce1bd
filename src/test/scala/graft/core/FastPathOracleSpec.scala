package graft.core

import java.text.SimpleDateFormat
import java.util.{Date, TimeZone}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The run-based string parser, escapers and manifest line against
  * per-character reference implementations kept here as oracles: the
  * output must match byte for byte, error positions included. */
class FastPathOracleSpec extends AnyFunSuite {

  /** Per-character reference implementations. */
  private object Oracle {
    def klaxonEscape(sb: StringBuilder, s: String): Unit =
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < ' ' || (c.toInt >= 0x7f && c.toInt <= 0x9f) || (c.toInt >= 0x2000 && c.toInt <= 0x20ff) =>
          sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }

    def gsonEscape(sb: StringBuilder, s: String): Unit =
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '<' => sb.append("\\u003c")
        case '>' => sb.append("\\u003e")
        case '&' => sb.append("\\u0026")
        case '=' => sb.append("\\u003d")
        case '\'' => sb.append("\\u0027")
        case c if c.toInt == 0x2028 => sb.append("\\u2028")
        case c if c.toInt == 0x2029 => sb.append("\\u2029")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }

    private def klaxonNum(n: JNum): String =
      if (n.raw.exists(c => c == '.' || c == 'e' || c == 'E')) n.raw.toDouble.toString
      else BigInt(n.raw).toString

    private def renderTo(sb: StringBuilder, v: JValue, numFmt: JNum => String,
                         esc: (StringBuilder, String) => Unit): Unit = v match {
      case JNull => sb.append("null")
      case JBool(b) => sb.append(if (b) "true" else "false")
      case n: JNum => sb.append(numFmt(n))
      case JStr(s) => sb.append('"'); esc(sb, s); sb.append('"')
      case JArr(items) =>
        sb.append('[')
        items.zipWithIndex.foreach { case (it, i) => if (i > 0) sb.append(','); renderTo(sb, it, numFmt, esc) }
        sb.append(']')
      case o: JObj =>
        sb.append('{')
        o.entries.zipWithIndex.foreach { case ((k, value), i) =>
          if (i > 0) sb.append(',')
          sb.append('"'); esc(sb, k); sb.append('"'); sb.append(':')
          renderTo(sb, value, numFmt, esc)
        }
        sb.append('}')
    }

    def renderCompact(v: JValue): String = { val sb = new StringBuilder; renderTo(sb, v, klaxonNum, klaxonEscape); sb.toString }
    def renderRecord(v: JValue): String = { val sb = new StringBuilder; renderTo(sb, v, _.raw, gsonEscape); sb.toString }

    def escapeCsv(value: String): String =
      if (value.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n'))
        "\"" + value.replace("\"", "\"\"") + "\""
      else value

    def csv(r: CsvEscape.ManifestRecord): String =
      Seq(r.id, r.timestamp.toString, r.db, r.collection, r.source, r.outerType, r.originalId, r.innerType)
        .map(escapeCsv).mkString("", "|", "\n")

    /** The per-character parser. */
    def parse(text: String): JValue = {
      val p = new P(text)
      p.skipWs()
      val v = p.value()
      p.skipWs()
      if (!p.eof) throw JsonParseException("trailing content", p.pos)
      v
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
      private def str(): String = {
        expect('"')
        val sb = new StringBuilder
        while (true) {
          if (eof) fail("unterminated string")
          val c = s.charAt(pos); pos += 1
          c match {
            case '"' => return sb.toString
            case '\\' =>
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
            case other => sb.append(other)
          }
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
        try { raw.toDouble } catch { case _: NumberFormatException => fail(s"bad number '$raw'") }
        JNum(raw)
      }
    }
  }

  /** One character from each escape class, or a plain one. */
  private def randomChar(rnd: Random): String = rnd.nextInt(14) match {
    case 0 => "\"\\/\b\f\n\r\t".charAt(rnd.nextInt(8)).toString
    case 1 => "<>&='".charAt(rnd.nextInt(5)).toString
    case 2 => rnd.nextInt(0x20).toChar.toString // C0 controls
    case 3 => (0x7f + rnd.nextInt(0x21)).toChar.toString // 0x7f-0x9f
    case 4 => (0x2000 + rnd.nextInt(0x100)).toChar.toString // U+2000-U+20FF
    case 5 => (0x2028 + rnd.nextInt(2)).toChar.toString // U+2028/U+2029
    case 6 => new String(Character.toChars(0x10000 + rnd.nextInt(0xfffff))) // surrogate pair
    case 7 => rnd.nextPrintableChar().toString
    case 8 => (0xa0 + rnd.nextInt(0x1f60)).toChar.toString // other BMP text
    case _ => ('a' + rnd.nextInt(26)).toChar.toString
  }

  private def randomString(rnd: Random): String = {
    val len = rnd.nextInt(4) match {
      case 0 => 0
      case 1 => 1
      case _ => rnd.nextInt(40)
    }
    val s = (0 until len).map(_ => randomChar(rnd)).mkString
    // escapes at the first and at the last position
    rnd.nextInt(6) match {
      case 0 => "\"" + s
      case 1 => s + "\n"
      case 2 => "\u0001" + s + "\u2028"
      case _ => s
    }
  }

  private val corpus: Seq[String] = {
    val rnd = new Random(20261017)
    Seq("", "\"", "\\", "plain", "<", "\u2029", "\uD83D\uDE00") ++ Seq.fill(3000)(randomString(rnd))
  }

  test("renderRecord and renderCompact match the per-char escapers on every escape class") {
    val rnd = new Random(4)
    corpus.foreach { s =>
      val v = JObj(s -> JStr(s), "a" -> JArr(Vector(JStr(s), JNum("1.50"), JNull, JBool(true))),
        "n" -> JObj(s + "k" -> JStr("x" + s + "y")))
      assert(Json.renderRecord(v) == Oracle.renderRecord(v), s)
      assert(Json.renderCompact(v) == Oracle.renderCompact(v), s)
      assert(Json.renderRecord(JStr(s)) == Oracle.renderRecord(JStr(s)))
    }
    // whole records: many strings in one builder
    (0 until 50).foreach { _ =>
      val o = JObj.empty
      (0 until 20).foreach(i => o.put(s"k$i" + corpus(rnd.nextInt(corpus.size)), JStr(corpus(rnd.nextInt(corpus.size)))))
      assert(Json.renderRecord(o) == Oracle.renderRecord(o))
      assert(Json.renderCompact(o) == Oracle.renderCompact(o))
    }
  }

  private def outcome(f: => JValue): Either[(String, String), JValue] =
    try Right(f) catch { case e: Exception => Left((e.getClass.getName, e.getMessage)) }

  test("parse matches the per-char parser: values, \\uXXXX input and error positions") {
    val rnd = new Random(5)
    // JSON string bodies built from raw characters, every escape form,
    // \\u escapes (valid, short, non-hex) and bad escapes
    def body(): String = (0 until rnd.nextInt(12)).map { _ =>
      rnd.nextInt(10) match {
        case 0 => "\\" + "\"\\/bfnrt".charAt(rnd.nextInt(8))
        case 1 => f"\\u${rnd.nextInt(0x10000)}%04x"
        case 2 => f"\\u${rnd.nextInt(0x10000)}%04X"
        case 3 => Seq("\\x", "\\u12", "\\uzzzz", "\\", "\\u-001")(rnd.nextInt(5))
        case _ =>
          val c = randomChar(rnd)
          if (c == "\"" || c == "\\") "a" else c
      }
    }.mkString
    val texts = corpus.map(s => Oracle.renderRecord(JObj(s -> JStr(s)))) ++
      corpus.map(s => Oracle.renderCompact(JArr(Vector(JStr(s), JStr(s + s))))) ++
      Seq.fill(3000) {
        val b = body()
        rnd.nextInt(6) match {
          case 0 => "{\"k\":\"" + b // unterminated string
          case 1 => "\"" + b
          case 2 => "[\"" + b + "\",\"" + body() + "\"]"
          case _ => "{\"" + body() + "\": \"" + b + "\", \"n\": 1}"
        }
      } ++ Seq("\"", "\"\\", "\"\\u00", "\"abc", "{\"a\":\"\\u0041\\u00e9\"}", "\"\"")
    texts.foreach { t =>
      assert(outcome(Json.parse(t)) == outcome(Oracle.parse(t)), t)
    }
  }

  test("CsvEscape.csv matches the Seq/mkString rendering") {
    val rnd = new Random(6)
    def field(): String = {
      val s = corpus(rnd.nextInt(corpus.size))
      rnd.nextInt(5) match {
        case 0 => s + "," + s
        case 1 => "\r" + s
        case 2 => s + "|" + s
        case _ => s
      }
    }
    (0 until 3000).foreach { _ =>
      val r = CsvEscape.ManifestRecord(field(), rnd.nextLong(), field(), field(), field(), field(), field(), field())
      assert(CsvEscape.csv(r) == Oracle.csv(r))
      assert(CsvEscape.escapeCsv(r.id) == Oracle.escapeCsv(r.id))
    }
  }

  test("envelope timestamp: one text per millisecond, and a clock step changes it") {
    var now = 1602934567890L
    val identity = Envelope.RunIdentity("uow", "trace", "1.0", () => new Date(now))
    def timestamp(): String = {
      val env = Envelope.produceMessage(JObj("_id" -> JStr("a")), "a", idIsString = true, idWasModified = false,
        "2020-01-01T00:00:00.000+0000", Transforms.LastModifiedField, false, false, false, false, false,
        Envelope.EncryptionResult("iv", "enc"), Envelope.DataKeyResult("kek", "plain", "cipher"),
        "db", "coll", identity)
      """"timestamp": "([^"]*)"""".r.findFirstMatchIn(env).get.group(1)
    }
    val reference = new SimpleDateFormat("yyyy-MM-dd'T'HH:mm:ss.SSS")
    reference.setTimeZone(TimeZone.getTimeZone("UTC"))
    val first = timestamp()
    assert(first == "2020-10-17T11:36:07.890")
    assert(timestamp() == first) // same millisecond
    now += 1
    assert(timestamp() == "2020-10-17T11:36:07.891")
    now -= 1 // a step back
    assert(timestamp() == first)
    val rnd = new Random(8)
    (0 until 200).foreach { _ =>
      now = if (rnd.nextBoolean()) now + rnd.nextInt(3) else rnd.nextLong(4102444800000L)
      assert(timestamp() == reference.format(new Date(now)))
    }
  }
}
