package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.json.GraftJsonBridge
import org.apache.spark.sql.classic.{GraftExpressionBridge => B}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Msgpack

/** The drain's payload decode kernel: one pass from a payload's bytes to
  * its `(data, raw_value)` pair, where `data` is the payload struct under
  * `fields` and `raw_value` the payload's text when it does not decode.
  *
  * The answer is, row for row, the one the text path gives: render a
  * msgpack payload as JSON with [[Msgpack.toJson]] (a JSON payload is its
  * own UTF-8 text), parse the text with `from_json` under the PERMISSIVE
  * corrupt-record protocol, and degrade a failed parse to `raw_value` with
  * a null struct. Most rows never build that text. A msgpack reader
  * ([[PayloadDecoder.MsgpackCursor]]) and a strict JSON byte scanner
  * ([[PayloadDecoder.JsonCursor]]) fill Long, Double, String, Boolean and
  * Struct fields straight from the bytes, with the coercions `from_json`
  * applies to `toJson`'s text: an integral double below 1e15 in magnitude
  * renders as an integer, so it lands as a Long and as a Double without
  * its sign of zero. Any other row (a type `from_json` would coerce or
  * reject, a duplicate key, an array value, a non-ASCII or escaped
  * string, a non-finite float, malformed msgpack, trailing bytes, blank
  * text) leaves the fast path for the text path itself, through Spark's
  * own `from_json` evaluator, so those rows land exactly as before.
  *
  * Reached through Spark's `Invoke` on this serializable object (the
  * pattern `from_json` itself uses): each task deserializes its own copy,
  * whose lazily built field tables and parser are its own. */
final case class PayloadDecoder(fields: StructType, fallbackParser: JsonToStructsEvaluator) {
  import PayloadDecoder._

  @transient private lazy val root: Fields = if (fields.isEmpty) null else new Fields(fields)

  /** `(data, raw_value)` of one non-null payload; `msgpack` picks its codec. */
  def decode(msgpack: Boolean, value: Array[Byte]): InternalRow = {
    val fast = fastDecode(msgpack, value)
    if (fast != null) pair(fast, null) else textDecode(msgpack, value)
  }

  /** The payload struct when the fast path takes the row, else null. */
  private[graft] def fastDecode(msgpack: Boolean, value: Array[Byte]): InternalRow =
    if (root == null) null
    else try {
      if (msgpack) new MsgpackCursor(value).decode(root) else new JsonCursor(value).decode(root)
    } catch { case _: IndexOutOfBoundsException => null }

  /** The text path: the payload's JSON text through `from_json`. */
  private def textDecode(msgpack: Boolean, value: Array[Byte]): InternalRow = {
    val text =
      if (!msgpack) UTF8String.fromBytes(value)
      else {
        val s = Msgpack.toJson(value)
        if (s == null) null else UTF8String.fromString(s)
      }
    if (text == null) pair(null, UTF8String.fromBytes(value))
    else if (fallbackParser == null) pair(null, text)
    else fallbackParser.evaluate(text) match {
      case r: InternalRow =>
        // the evaluator reuses its result row: copy the payload fields out
        val n = fields.length
        if (!r.isNullAt(n)) pair(null, r.getUTF8String(n))
        else pair(new GenericInternalRow(Array.tabulate[Any](n)(i => r.get(i, fields(i).dataType))),
          null)
      case _ => pair(null, text) // blank text: from_json gives a null struct
    }
  }

  override def toString: String = s"payload_decode(${fields.simpleString})"
}

object PayloadDecoder {

  /** The PERMISSIVE protocol's corrupt-record field in the text path's
    * parse schema, after the payload fields. */
  val CorruptField = "_graft_corrupt"

  /** The `(data, raw_value)` struct column decoding `payload` (binary, or
    * text read as its UTF-8 bytes) under `fields`; `msgpack` is a boolean
    * column choosing each row's codec. A null payload gives a null pair. */
  def column(spark: SparkSession, fields: StructType, payload: Column, msgpack: Column): Column = {
    val parser =
      if (fields.isEmpty) null
      else GraftJsonBridge.fromJsonEvaluator(spark, fields.add(CorruptField, StringType),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptField))
    val decoder = PayloadDecoder(fields, parser)
    B.column(Invoke(Literal.create(decoder, ObjectType(classOf[PayloadDecoder])), "decode",
      StructType(Seq(StructField("data", GraftJsonBridge.asNullable(fields)), StructField("raw_value", StringType))),
      Seq(B.expression(msgpack), B.expression(payload.cast(BinaryType))),
      Seq(BooleanType, BinaryType), propagateNull = true, returnNullable = true))
  }

  private def pair(data: InternalRow, raw: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](data, raw))

  private final val KLong = 0
  private final val KDouble = 1
  private final val KString = 2
  private final val KBool = 3
  private final val KStruct = 4
  private final val KOther = 5

  /** Nesting past this depth leaves the fast path (Jackson caps it too). */
  private final val MaxDepth = 64
  /** Strings and names past this many bytes leave the fast path. */
  private final val MaxText = 1 << 20
  /** JSON numbers past this many characters leave the fast path. */
  private final val MaxNumber = 100

  /** A field slot not yet filled in the object being read. */
  private val Unset = new Object
  /** The fast path declines the row. */
  private val Fail = new Object

  private val Pow10: Array[Double] = Array.tabulate(23)(i => math.pow(10, i))

  /** One struct level of the payload schema: each field's kind, the
    * nested level of a struct field, and a hash table from the UTF-8
    * bytes of a name to its field index. */
  private final class Fields(st: StructType) {
    val n: Int = st.length
    val kinds: Array[Int] = st.fields.map(_.dataType match {
      case LongType => KLong
      case DoubleType => KDouble
      case StringType => KString
      case BooleanType => KBool
      case _: StructType => KStruct
      case _ => KOther
    })
    val nested: Array[Fields] = st.fields.map(_.dataType match {
      case s: StructType => new Fields(s)
      case _ => null
    })
    private val names = st.fields.map(_.name.getBytes(StandardCharsets.UTF_8))
    // a schema naming a field twice leaves every row to the text path
    private val usable = names.map(_.toSeq).distinct.length == n
    private val mask = Integer.highestOneBit(math.max(2 * n, 1)) * 2 - 1
    private val slots = new Array[Int](mask + 1)
    names.indices.foreach { i =>
      var s = hash(names(i), 0, names(i).length) & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
    }

    private def hash(b: Array[Byte], from: Int, len: Int): Int = {
      var h = len
      var i = from
      while (i < from + len) { h = 31 * h + b(i); i += 1 }
      h ^ (h >>> 16)
    }

    /** Index of the field named by `b(from until from + len)`, or -1. */
    def indexOf(b: Array[Byte], from: Int, len: Int): Int = {
      var s = hash(b, from, len) & mask
      while (slots(s) != 0) {
        val name = names(slots(s) - 1)
        if (name.length == len && java.util.Arrays.equals(name, 0, len, b, from, from + len))
          return slots(s) - 1
        s = (s + 1) & mask
      }
      -1
    }

    /** A fresh value array for one object of this level. */
    def open(): Array[AnyRef] =
      if (!usable) null
      else { val v = new Array[AnyRef](n); java.util.Arrays.fill(v, Unset); v }

    /** The object's row: fields it did not name are null. */
    def close(vals: Array[AnyRef]): InternalRow = {
      var i = 0
      while (i < n) { if (vals(i) eq Unset) vals(i) = null; i += 1 }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    }
  }

  /** Reads one msgpack payload as [[Msgpack.toJson]] renders it and
    * `from_json` parses that rendering. Returns [[Fail]] (a null row from
    * `decode`) on anything it does not mirror. */
  private final class MsgpackCursor(b: Array[Byte]) {
    private var pos = 0
    /** The last number read: an integer in `lv` or a float in `dv`. */
    private var lv = 0L
    private var dv = 0.0

    def decode(f: Fields): InternalRow = {
      val r = struct(f, 0)
      if ((r eq Fail) || pos != b.length) null else r.asInstanceOf[InternalRow]
    }

    private def u8(): Int = { val v = b(pos) & 0xff; pos += 1; v }
    private def u16(): Int = (u8() << 8) | u8()
    private def u32(): Long = ((u16().toLong << 16) | u16().toLong) & 0xffffffffL
    private def u64(): Long = (u32() << 32) | u32()

    /** Length of a map whose tag `t` was just read, -1 if `t` is not one
      * (or its count does not fit an Int). */
    private def mapLen(t: Int): Int =
      if ((t & 0xf0) == 0x80) t & 0x0f
      else if (t == 0xde) u16()
      else if (t == 0xdf) u32().toInt
      else -1

    private def arrayLen(t: Int): Int =
      if ((t & 0xf0) == 0x90) t & 0x0f
      else if (t == 0xdc) u16()
      else if (t == 0xdd) u32().toInt
      else -1

    /** Byte length of a str whose tag `t` was just read, -1 if it is not
      * one or its bytes run past the payload. */
    private def strLen(t: Int): Int = {
      val n =
        if ((t & 0xe0) == 0xa0) t & 0x1f
        else if (t == 0xd9) u8()
        else if (t == 0xda) u16()
        else if (t == 0xdb) u32().toInt
        else -1
      if (n < 0 || n > b.length - pos || n > MaxText) -1 else n
    }

    private def ascii(from: Int, len: Int): Boolean = {
      var i = from
      while (i < from + len) { if (b(i) < 0) return false; i += 1 }
      true
    }

    /** Reads the number whose tag `t` was just read: 1 for an integer
      * (`lv`), 2 for a float (`dv`), 0 when `t` is no number and -1 for a
      * value whose rendering the fast path does not take (NaN, ±Inf, a
      * uint64 above Long.MaxValue). Floats follow the rendering rule: an
      * integral value below 1e15 in magnitude is an integer. */
    private def number(t: Int): Int = {
      if (t <= 0x7f) { lv = t; 1 }
      else if (t >= 0xe0) { lv = t - 256; 1 }
      else t match {
        case 0xcc => lv = u8(); 1
        case 0xcd => lv = u16(); 1
        case 0xce => lv = u32(); 1
        case 0xcf => lv = u64(); if (lv < 0) -1 else 1
        case 0xd0 => lv = u8().toByte; 1
        case 0xd1 => lv = u16().toShort; 1
        case 0xd2 => lv = u32().toInt; 1
        case 0xd3 => lv = u64(); 1
        case 0xca => float(java.lang.Float.intBitsToFloat(u32().toInt).toDouble)
        case 0xcb => float(java.lang.Double.longBitsToDouble(u64()))
        case _ => 0
      }
    }

    private def float(d: Double): Int =
      if (d.isNaN || d.isInfinite) -1
      else if (d == d.toLong.toDouble && math.abs(d) < 1e15) { lv = d.toLong; 1 }
      else { dv = d; 2 }

    private def struct(f: Fields, depth: Int): AnyRef = {
      val n = mapLen(u8())
      val vals = f.open()
      if (n < 0 || depth > MaxDepth || vals == null) return Fail
      var i = 0
      while (i < n) {
        val k = strLen(u8())
        if (k < 0 || !ascii(pos, k)) return Fail
        val idx = f.indexOf(b, pos, k)
        pos += k
        if (idx < 0) { if (!skip(depth + 1)) return Fail }
        else {
          if (vals(idx) ne Unset) return Fail
          val v = value(f.kinds(idx), f.nested(idx), depth + 1)
          if (v eq Fail) return Fail
          vals(idx) = v
        }
        i += 1
      }
      f.close(vals)
    }

    private def value(kind: Int, nested: Fields, depth: Int): AnyRef = {
      val t = u8()
      if (t == 0xc0) null
      else kind match {
        case KLong => if (number(t) == 1) java.lang.Long.valueOf(lv) else Fail
        case KDouble => number(t) match {
          case 1 => java.lang.Double.valueOf(lv.toDouble)
          case 2 => java.lang.Double.valueOf(dv)
          case _ => Fail
        }
        case KString =>
          val n = strLen(t)
          if (n < 0 || !ascii(pos, n)) Fail
          else { val s = UTF8String.fromBytes(b, pos, n); pos += n; s }
        case KBool =>
          if (t == 0xc3) java.lang.Boolean.TRUE
          else if (t == 0xc2) java.lang.Boolean.FALSE
          else Fail
        case KStruct => pos -= 1; struct(nested, depth)
        case _ => Fail
      }
    }

    /** Steps over one value of a field the schema lacks; false where the
      * rendering would fail or the fast path does not follow it. */
    private def skip(depth: Int): Boolean = {
      if (depth > MaxDepth) return false
      val t = u8()
      if (t == 0xc0 || t == 0xc2 || t == 0xc3) return true
      val num = number(t)
      if (num != 0) return num > 0
      val m = mapLen(t)
      if (m >= 0) {
        var i = 0
        while (i < m) {
          val k = strLen(u8())
          if (k < 0) return false
          pos += k
          if (!skip(depth + 1)) return false
          i += 1
        }
        return true
      }
      val a = arrayLen(t)
      if (a >= 0) {
        var i = 0
        while (i < a) { if (!skip(depth + 1)) return false; i += 1 }
        return true
      }
      val n =
        if (t == 0xc4) u8() else if (t == 0xc5) u16() else if (t == 0xc6) u32().toInt
        else strLen(t)
      if (n < 0 || n > b.length - pos) false else { pos += n; true }
    }
  }

  /** Scans one JSON payload strictly: objects, ASCII strings without
    * escapes, numbers in the JSON grammar, true, false and null, with the
    * four JSON whitespace bytes between tokens (arrays only inside a
    * field the schema lacks). `from_json` reads such text the same way;
    * any other byte returns [[Fail]] (a null row from `decode`). */
  private final class JsonCursor(b: Array[Byte]) {
    private var pos = 0
    // the last number scanned: sign, up to 18 significant digits in
    // `mant` (`big` past that), the decimal exponent, and its form
    private var neg = false
    private var mant = 0L
    private var sig = 0
    private var big = false
    private var exp10 = 0
    private var integral = true
    private var numStart = 0

    def decode(f: Fields): InternalRow = {
      ws()
      val r = obj(f, 0)
      if (r eq Fail) return null
      ws()
      if (pos != b.length) null else r.asInstanceOf[InternalRow]
    }

    private def ws(): Unit =
      while (pos < b.length && { val c = b(pos); c == ' ' || c == '\n' || c == '\r' || c == '\t' })
        pos += 1

    /** Index of the closing quote of the string whose body starts at
      * `from`, or -1 on an escape, a control or non-ASCII byte, or the end. */
    private def stringEnd(from: Int): Int = {
      var i = from
      val end = math.min(b.length, from + MaxText)
      while (i < end) {
        val c = b(i)
        if (c == '"') return i
        if (c < 0x20 || c == '\\') return -1
        i += 1
      }
      -1
    }

    /** Steps over one of the literals true, false, null. */
    private def literal(word: String): Boolean = {
      var i = 0
      while (i < word.length) { if (b(pos + i) != word.charAt(i)) return false; i += 1 }
      pos += word.length
      true
    }

    private def digit(c: Byte): Boolean = c >= '0' && c <= '9'

    /** Scans a number in the JSON grammar into the number fields. */
    private def number(): Boolean = {
      numStart = pos
      neg = b(pos) == '-'
      if (neg) pos += 1
      mant = 0L; sig = 0; big = false; exp10 = 0; integral = true
      if (!digit(b(pos))) return false
      if (b(pos) == '0') { pos += 1; if (pos < b.length && digit(b(pos))) return false }
      else while (pos < b.length && digit(b(pos))) { accumulate(b(pos) - '0', frac = false); pos += 1 }
      if (pos < b.length && b(pos) == '.') {
        integral = false
        pos += 1
        if (pos >= b.length || !digit(b(pos))) return false
        while (pos < b.length && digit(b(pos))) { accumulate(b(pos) - '0', frac = true); pos += 1 }
      }
      if (pos < b.length && (b(pos) == 'e' || b(pos) == 'E')) {
        integral = false
        pos += 1
        val eneg = pos < b.length && b(pos) == '-'
        if (pos < b.length && (b(pos) == '-' || b(pos) == '+')) pos += 1
        if (pos >= b.length || !digit(b(pos))) return false
        var e = 0
        while (pos < b.length && digit(b(pos))) {
          if (e < 100000) e = e * 10 + (b(pos) - '0')
          pos += 1
        }
        exp10 += (if (eneg) -e else e)
      }
      pos - numStart <= MaxNumber
    }

    private def accumulate(d: Int, frac: Boolean): Unit = {
      if (mant != 0 || d != 0) sig += 1
      if (sig > 18) big = true
      else { mant = mant * 10 + d; if (frac) exp10 -= 1 }
    }

    /** The scanned number as `kind` gets it from `from_json`, or Fail.
      * A negative zero and an integer past 18 digits take the text path. */
    private def numberAs(kind: Int): AnyRef = {
      if (!number() || (neg && mant == 0 && !big)) Fail
      else if (kind == KLong) {
        if (integral && !big) java.lang.Long.valueOf(if (neg) -mant else mant) else Fail
      } else if (integral) {
        if (big) Fail else java.lang.Double.valueOf((if (neg) -mant else mant).toDouble)
      } else if (!big && sig <= 15 && exp10 >= -22 && exp10 <= 22) {
        // both operands exact, so one correctly rounded operation
        val m = if (neg) -mant.toDouble else mant.toDouble
        java.lang.Double.valueOf(if (exp10 >= 0) m * Pow10(exp10) else m / Pow10(-exp10))
      } else {
        val d = java.lang.Double.parseDouble(
          new String(b, numStart, pos - numStart, StandardCharsets.US_ASCII))
        if (d.isInfinite) Fail else java.lang.Double.valueOf(d)
      }
    }

    private def obj(f: Fields, depth: Int): AnyRef = {
      val vals = f.open()
      if (depth > MaxDepth || vals == null || b(pos) != '{') return Fail
      pos += 1
      ws()
      if (b(pos) == '}') { pos += 1; return f.close(vals) }
      while (true) {
        if (b(pos) != '"') return Fail
        val from = pos + 1
        val end = stringEnd(from)
        if (end < 0) return Fail
        pos = end + 1
        ws()
        if (b(pos) != ':') return Fail
        pos += 1
        ws()
        val idx = f.indexOf(b, from, end - from)
        if (idx < 0) { if (!skip(depth + 1)) return Fail }
        else {
          if (vals(idx) ne Unset) return Fail
          val v = value(f.kinds(idx), f.nested(idx), depth + 1)
          if (v eq Fail) return Fail
          vals(idx) = v
        }
        ws()
        val c = b(pos)
        pos += 1
        if (c == '}') return f.close(vals)
        if (c != ',') return Fail
        ws()
      }
      Fail
    }

    private def value(kind: Int, nested: Fields, depth: Int): AnyRef = {
      val c = b(pos)
      if (c == 'n') { if (literal("null")) null else Fail }
      else kind match {
        case KString =>
          if (c != '"') Fail
          else {
            val end = stringEnd(pos + 1)
            if (end < 0) Fail
            else { val s = UTF8String.fromBytes(b, pos + 1, end - pos - 1); pos = end + 1; s }
          }
        case KLong | KDouble => if (c == '-' || digit(c)) numberAs(kind) else Fail
        case KBool =>
          if (c == 't' && literal("true")) java.lang.Boolean.TRUE
          else if (c == 'f' && literal("false")) java.lang.Boolean.FALSE
          else Fail
        case KStruct => if (c == '{') obj(nested, depth) else Fail
        case _ => Fail
      }
    }

    /** Steps over one value of a field the schema lacks. */
    private def skip(depth: Int): Boolean = {
      if (depth > MaxDepth) return false
      val c = b(pos)
      if (c == '"') {
        val end = stringEnd(pos + 1)
        if (end < 0) false else { pos = end + 1; true }
      }
      else if (c == 'n') literal("null")
      else if (c == 't') literal("true")
      else if (c == 'f') literal("false")
      else if (c == '{') container('}', depth, keyed = true)
      else if (c == '[') container(']', depth, keyed = false)
      else (c == '-' || digit(c)) && number()
    }

    /** Steps over an object (`keyed`) or array ending in `close`. */
    private def container(close: Char, depth: Int, keyed: Boolean): Boolean = {
      pos += 1
      ws()
      if (b(pos) == close) { pos += 1; return true }
      while (true) {
        if (keyed) {
          if (b(pos) != '"') return false
          val end = stringEnd(pos + 1)
          if (end < 0) return false
          pos = end + 1
          ws()
          if (b(pos) != ':') return false
          pos += 1
          ws()
        }
        if (!skip(depth + 1)) return false
        ws()
        val c = b(pos)
        pos += 1
        if (c == close) return true
        if (c != ',') return false
        ws()
      }
      false
    }
  }
}
