package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Minimal MessagePack codec, hand-rolled from the public format spec
  * (https://github.com/msgpack/msgpack/blob/master/spec.md) — the container
  * is offline so no third-party msgpack jar is available.
  *
  * Mirrors the reference's `decode_message` msgpack path
  * (`app/redpanda_to_parquet_collector.py:223-256`): payload bytes → a JSON
  * string; on malformed input it returns null and the caller degrades to
  * `raw_value`, matching the reference's fallback chain. [[toJson]]'s
  * rendering is the contract the drain's decode keeps: the drain reads
  * most msgpack payloads straight into the row
  * (`graft.ingest.PayloadDecoder`), with the values `from_json` would give
  * for this text, and renders and parses only the rest. The JSON text
  * itself serves format detection, schema inference over the drain's
  * sample, the `msgpack_to_json` SQL function and this scalar UDF.
  *
  * Supported families (all the reference's payloads use): nil, bool,
  * fix/u/int 8-64, float 32/64, fixstr/str8-32, bin8-32, fixarray/array16-32,
  * fixmap/map16-32.
  */
object Msgpack {

  // ---------- decode: bytes → JSON string ----------

  /** Decode one msgpack value to a JSON string; null if malformed. */
  def toJson(bytes: Array[Byte]): String =
    if (bytes == null) null
    else
      try {
        val r = new Reader(bytes)
        val sb = new StringBuilder
        r.value(sb)
        if (r.pos != bytes.length) null else sb.toString
      } catch { case _: Exception => null }

  private final class Reader(b: Array[Byte]) {
    var pos = 0
    private def u8(): Int = { val v = b(pos) & 0xff; pos += 1; v }
    private def u16(): Int = (u8() << 8) | u8()
    private def u32(): Long = ((u16().toLong << 16) | u16().toLong) & 0xffffffffL
    private def u64(): Long = (u32() << 32) | u32()

    /** A 32-bit length whose high bit is set arrives as a NEGATIVE Int.
      * str() happens to throw on it (String range check) but bin()'s
      * Array.slice would CLAMP to empty and step `pos` backwards —
      * a crafted arr32-of-negative-bin32 record would then loop ~2^31
      * times instead of degrading to null. Malformed is malformed: fail
      * loudly here so the decoder's catch returns null. */
    private def checkLen(n: Int): Int = {
      if (n < 0 || n > b.length - pos)
        throw new IllegalArgumentException(s"bad msgpack length $n at $pos")
      n
    }
    private def str(n0: Int, sb: StringBuilder): Unit = {
      val n = checkLen(n0)
      val s = new String(b, pos, n, StandardCharsets.UTF_8); pos += n
      jsonString(s, sb)
    }
    private def bin(n0: Int, sb: StringBuilder): Unit = {
      val n = checkLen(n0)
      // binary degrades to base64 text (JSON has no bytes type)
      val s = java.util.Base64.getEncoder.encodeToString(b.slice(pos, pos + n)); pos += n
      jsonString(s, sb)
    }
    private def arr(n: Int, sb: StringBuilder): Unit = {
      sb.append('[')
      var i = 0
      while (i < n) { if (i > 0) sb.append(','); value(sb); i += 1 }
      sb.append(']')
    }
    private def map(n: Int, sb: StringBuilder): Unit = {
      sb.append('{')
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        val t = b(pos) & 0xff
        // JSON object keys must be strings; accept only str-family keys
        require((t >= 0xa0 && t <= 0xbf) || t == 0xd9 || t == 0xda || t == 0xdb)
        value(sb); sb.append(':'); value(sb); i += 1
      }
      sb.append('}')
    }

    def value(sb: StringBuilder): Unit = {
      val t = u8()
      t match {
        case x if x <= 0x7f            => sb.append(x)                 // pos fixint
        case x if x >= 0xe0            => sb.append(x - 256)           // neg fixint
        case x if x >= 0x80 && x <= 0x8f => map(x & 0x0f, sb)          // fixmap
        case x if x >= 0x90 && x <= 0x9f => arr(x & 0x0f, sb)          // fixarray
        case x if x >= 0xa0 && x <= 0xbf => str(x & 0x1f, sb)          // fixstr
        case 0xc0 => sb.append("null")
        case 0xc2 => sb.append("false")
        case 0xc3 => sb.append("true")
        case 0xc4 => bin(u8(), sb)
        case 0xc5 => bin(u16(), sb)
        case 0xc6 => bin(u32().toInt, sb)
        case 0xca => appendDouble(java.lang.Float.intBitsToFloat(u32().toInt).toDouble, sb)
        case 0xcb => appendDouble(java.lang.Double.longBitsToDouble(u64()), sb)
        case 0xcc => sb.append(u8())
        case 0xcd => sb.append(u16())
        case 0xce => sb.append(u32())
        case 0xcf => val v = u64(); if (v >= 0) sb.append(v) else sb.append(java.lang.Long.toUnsignedString(v))
        case 0xd0 => sb.append(u8().toByte.toInt)
        case 0xd1 => sb.append(u16().toShort.toInt)
        case 0xd2 => sb.append(u32().toInt)
        case 0xd3 => sb.append(u64())
        case 0xd9 => str(u8(), sb)
        case 0xda => str(u16(), sb)
        case 0xdb => str(u32().toInt, sb)
        case 0xdc => arr(u16(), sb)
        case 0xdd => arr(u32().toInt, sb)
        case 0xde => map(u16(), sb)
        case 0xdf => map(u32().toInt, sb)
        case _    => throw new IllegalArgumentException(s"unsupported msgpack type 0x${t.toHexString}")
      }
    }
  }

  private def appendDouble(d: Double, sb: StringBuilder): Unit = {
    // JSON has no NaN/Infinity literal — emitting one would return a
    // non-null "success" that downstream from_json/json_extract chokes
    // on; treat the record as malformed (decoder catch → null payload)
    if (d.isNaN || d.isInfinite)
      throw new IllegalArgumentException("non-finite float in msgpack payload")
    if (d == d.toLong.toDouble && math.abs(d) < 1e15) sb.append(d.toLong) else sb.append(d)
  }

  private def jsonString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  // ---------- encode (tests + roundtrip queries) ----------

  /** Encode a small JSON-ish Scala value (Map/Seq/String/Long/Int/Double/
    * Boolean/null) to msgpack bytes. */
  def encode(v: Any): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    enc(v, buf)
    buf.toByteArray
  }

  private def enc(v: Any, o: java.io.ByteArrayOutputStream): Unit = v match {
    case null => o.write(0xc0)
    case b: Boolean => o.write(if (b) 0xc3 else 0xc2)
    case i: Int => enc(i.toLong, o)
    case l: Long =>
      if (l >= 0 && l <= 0x7f) o.write(l.toInt)
      else if (l < 0 && l >= -32) o.write((l & 0xff).toInt)
      else { o.write(0xd3); (7 to 0 by -1).foreach(i => o.write(((l >> (8 * i)) & 0xff).toInt)) }
    case d: Double =>
      o.write(0xcb)
      val bits = java.lang.Double.doubleToLongBits(d)
      (7 to 0 by -1).foreach(i => o.write(((bits >> (8 * i)) & 0xff).toInt))
    case s: String =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      // str16/str32 unimplemented: refuse loudly rather than truncate the
      // str8 length byte (o.write keeps only the low 8 bits)
      require(b.length <= 255, s"encode supports strings up to 255 utf-8 bytes, got ${b.length}")
      if (b.length <= 31) o.write(0xa0 | b.length)
      else { o.write(0xd9); o.write(b.length) }
      o.write(b)
    case m: scala.collection.Map[_, _] =>
      require(m.size <= 15); o.write(0x80 | m.size)
      m.foreach { case (k, vv) => enc(k.toString, o); enc(vv, o) }
    case xs: Seq[_] =>
      require(xs.size <= 15); o.write(0x90 | xs.size)
      xs.foreach(enc(_, o))
    case other => throw new IllegalArgumentException(s"unsupported: ${other.getClass}")
  }

  // ---------- Spark column surface ----------

  /** binary → JSON string (null on malformed). */
  val msgpackToJsonUdf = udf((b: Array[Byte]) => toJson(b))

  /** JSON-object string → msgpack bytes (test/roundtrip helper; parses only
    * the flat {"key": int|string} shapes used by the testdata). */
  val jsonToMsgpackUdf = udf((s: String) => if (s == null) null else encodeFlatJson(s))

  def msgpackToJson(c: Column): Column = msgpackToJsonUdf(c)

  /** Parse a flat JSON object {"k": 1, "s": "x", "f": 1.5} and re-encode as
    * msgpack — enough to synthesize msgpack payloads from the JSON testdata. */
  private[graft] def encodeFlatJson(s: String): Array[Byte] = {
    val inner = s.trim.stripPrefix("{").stripSuffix("}").trim
    if (inner.isEmpty) return encode(Map.empty[String, Any])
    val fields = inner.split(",").toSeq.map { kv =>
      val Array(k, v) = kv.split(":", 2).map(_.trim)
      val key = k.stripPrefix("\"").stripSuffix("\"")
      val value: Any =
        if (v.startsWith("\"")) v.stripPrefix("\"").stripSuffix("\"")
        else if (v == "null") null
        else if (v == "true") true
        else if (v == "false") false
        else if (v.contains('.') || v.contains('e') || v.contains('E')) v.toDouble
        else v.toLong
      key -> value
    }
    encode(scala.collection.immutable.ListMap(fields: _*))
  }

  /** Decode-success fraction above which a topic is classified msgpack
    * (reference `:172-220`). */
  val FormatThreshold = 0.9

  /** Format detection (reference `:172-220`): fraction of sampled payloads
    * that msgpack-decode cleanly decides the topic codec; a null payload
    * counts as a failed decode. The collector classifies each envelope
    * topic with it over the drain's pre-drain sample. */
  def detectFormat(sample: Seq[Array[Byte]], threshold: Double = FormatThreshold): String = {
    if (sample.isEmpty) "json"
    else {
      val ok = sample.count(b => toJson(b) != null)
      if (ok.toDouble / sample.size > threshold) "msgpack" else "json"
    }
  }
}
