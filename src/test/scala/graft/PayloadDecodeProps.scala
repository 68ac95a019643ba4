package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Msgpack
import graft.ingest.{JsonDecode, PayloadDecoder}

/** Differential properties for the payload decode kernel: for random
  * msgpack and JSON payloads, each under its batch's inferred schema and
  * under perturbed, type-mismatched schemas, `JsonDecode.parseWithDegrade`
  * (the kernel) gives the same `(payload struct, raw_value)` as the text
  * path it replaced — `Msgpack.toJson` or a UTF-8 cast, then `from_json`
  * under the PERMISSIVE corrupt-record protocol — row for row, compared
  * bit for bit (doubles by their raw bits, `raw_value` by its bytes). */
class PayloadDecodeProps extends SparkSpec {
  import PayloadDecodeProps.{canon, textPath}

  /** Random schemas near `s`: fields retyped (to a mismatching scalar, a
    * struct, an array, a decimal), dropped, or added. */
  private def perturb(s: StructType, rnd: Random): StructType = {
    val types: Seq[DataType] = Seq(LongType, DoubleType, StringType, BooleanType,
      DecimalType(12, 2), ArrayType(LongType),
      StructType(Seq(StructField("a", LongType), StructField("b", StringType))))
    val kept = s.fields.toSeq.flatMap { f =>
      rnd.nextInt(5) match {
        case 0 => None
        case 1 => Some(f.copy(dataType = types(rnd.nextInt(types.length))))
        case 2 => Some(f.copy(dataType = f.dataType match {
          case st: StructType => perturb(st, rnd)
          case _ => types(rnd.nextInt(types.length))
        }))
        case _ => Some(f)
      }
    }
    val extra = Keys.filterNot(k => kept.exists(_.name == k)).take(rnd.nextInt(3))
      .map(k => StructField(k, types(rnd.nextInt(types.length))))
    StructType(kept ++ extra)
  }

  private val Keys = Seq("px", "qty", "sym", "ok", "n", "meta", "x_1", "_corrupt_record")

  /** Calm batches draw no hostile variants, so their inferred schema is
    * the clean shape (one payload with a repeated key or a uint64 above
    * Long.MaxValue would infer a duplicate field or a decimal for the
    * whole batch) and most of their rows reach the fast path. */
  private var calm = false
  private def odd(rnd: Random, n: Int): Boolean = rnd.nextInt(n) == 0 && !calm
  /** A variant index below `n`; calm batches take the last, plain one. */
  private def pick(rnd: Random, n: Int): Int = { val i = rnd.nextInt(n); if (calm) n - 1 else i }

  /** Runs `payloads` (msgpack flag, bytes or null) through both paths
    * under each schema in one job and asserts equal rows; returns how
    * many (payload, schema) cases the fast path took. */
  private def compare(payloads: Seq[(Boolean, Array[Byte])], schemas: Seq[StructType]): Int = {
    val envSchema = StructType(Seq(StructField("id", LongType),
      StructField("mp", BooleanType), StructField("value", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      payloads.zipWithIndex.map { case ((mp, v), i) => Row(i.toLong, mp, v) }, 2), envSchema)
    val text = when(col("mp"), Msgpack.msgpackToJson(col("value")))
      .otherwise(col("value").cast("string"))
    val rawOnNull = when(col("value").isNotNull, col("value").cast("string"))
    val both = schemas.indices.foldLeft(df) { (d, k) =>
      JsonDecode.parseWithDegrade(
          textPath(d, text, s"o$k", schemas(k), rawOnNull).withColumnRenamed("raw_value", s"or$k"),
          col("value"), s"n$k", schemas(k), msgpack = col("mp"))
        .withColumnRenamed("raw_value", s"nr$k")
    }
    val cols = col("id") +: schemas.indices.flatMap { k =>
      Seq(col(s"o$k"), hex(col(s"or$k").cast("binary")), col(s"n$k"), hex(col(s"nr$k").cast("binary")))
    }
    val rows = both.select(cols: _*).collect().sortBy(_.getLong(0))
    assert(rows.length == payloads.length, "a row was dropped")
    rows.foreach { r =>
      val (mp, v) = payloads(r.getLong(0).toInt)
      schemas.indices.foreach { k =>
        val (old, neu) = (canon(Seq(r.get(1 + 4 * k), r.get(2 + 4 * k))),
          canon(Seq(r.get(3 + 4 * k), r.get(4 + 4 * k))))
        assert(old == neu, s"${if (mp) "msgpack" else "json"} payload " +
          s"${if (v == null) "null" else v.map("%02x".format(_)).mkString} under " +
          s"${schemas(k).simpleString}: text path $old, kernel $neu")
      }
    }
    schemas.map { s =>
      val fields = StructType(s.fields.filterNot(_.name == "_corrupt_record"))
      val dec = PayloadDecoder(fields, null)
      payloads.count { case (mp, v) => v != null && dec.fastDecode(mp, v) != null }
    }.sum
  }

  // ---------- msgpack ----------

  /** msgpack writer with an explicit width per value, so every family the
    * reader knows (str8/16/32, bin, float32, map16, …) is generated. */
  private final class Mp(rnd: Random) {
    val o = new ByteArrayOutputStream()
    def u(v: Long, bytes: Int): Unit = (bytes - 1 to 0 by -1).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
    def nil(): Unit = o.write(0xc0)
    def bool(b: Boolean): Unit = o.write(if (b) 0xc3 else 0xc2)
    def int(l: Long): Unit =
      if (l >= 0 && l <= 0x7f && rnd.nextBoolean()) o.write(l.toInt)
      else if (l < 0 && l >= -32 && rnd.nextBoolean()) o.write((l & 0xff).toInt)
      else if (l >= 0 && l <= 0xff && rnd.nextBoolean()) { o.write(0xcc); u(l, 1) }
      else if (l >= 0 && l <= 0xffff && rnd.nextBoolean()) { o.write(0xcd); u(l, 2) }
      else if (l >= 0 && l <= 0xffffffffL && rnd.nextBoolean()) { o.write(0xce); u(l, 4) }
      else if (l >= 0 && rnd.nextBoolean()) { o.write(0xcf); u(l, 8) }
      else if (l >= -128 && l <= 127 && rnd.nextBoolean()) { o.write(0xd0); u(l, 1) }
      else if (l >= -32768 && l <= 32767 && rnd.nextBoolean()) { o.write(0xd1); u(l, 2) }
      else if (l >= Int.MinValue && l <= Int.MaxValue && rnd.nextBoolean()) { o.write(0xd2); u(l, 4) }
      else { o.write(0xd3); u(l, 8) }
    def uint64(bits: Long): Unit = { o.write(0xcf); u(bits, 8) }
    def f64(d: Double): Unit = { o.write(0xcb); u(java.lang.Double.doubleToRawLongBits(d), 8) }
    def f32(f: Float): Unit = { o.write(0xca); u(java.lang.Float.floatToRawIntBits(f).toLong, 4) }
    def str(b: Array[Byte]): Unit = {
      val w = rnd.nextInt(4)
      if (b.length <= 31 && w == 0) o.write(0xa0 | b.length)
      else if (b.length <= 0xff && w <= 1) { o.write(0xd9); u(b.length, 1) }
      else if (b.length <= 0xffff && w <= 2) { o.write(0xda); u(b.length, 2) }
      else { o.write(0xdb); u(b.length, 4) }
      o.write(b)
    }
    def bin(b: Array[Byte]): Unit = {
      rnd.nextInt(3) match {
        case 0 => o.write(0xc4); u(b.length, 1)
        case 1 => o.write(0xc5); u(b.length, 2)
        case _ => o.write(0xc6); u(b.length, 4)
      }
      o.write(b)
    }
    def mapHeader(n: Int): Unit =
      if (n <= 15 && rnd.nextInt(3) > 0) o.write(0x80 | n)
      else if (rnd.nextBoolean()) { o.write(0xde); u(n, 2) } else { o.write(0xdf); u(n, 4) }
    def arrayHeader(n: Int): Unit =
      if (n <= 15 && rnd.nextInt(3) > 0) o.write(0x90 | n)
      else if (rnd.nextBoolean()) { o.write(0xdc); u(n, 2) } else { o.write(0xdd); u(n, 4) }
  }

  private val FloatEdges = Seq(-0.0, 0.0, 1.0, -1.0, 0.5, 999999999999999.0, -999999999999999.0,
    1e15, -1e15, 1e15 + 2, 999999999999999.5, 1e16, 123.45, 1e-7, Double.MinPositiveValue,
    Double.MaxValue, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  private def text(rnd: Random): Array[Byte] = pick(rnd, 30) match {
    case 0 => "caf\u00e9".getBytes(UTF_8)                          // non-ASCII
    case 1 => Array[Byte]('a', 0xc3.toByte)                         // invalid UTF-8
    case 2 => "q\"uo\\te\n\t\u0001".getBytes(UTF_8)                 // escaped when rendered
    case 3 => Array.fill(40 + rnd.nextInt(300))(('a' + rnd.nextInt(26)).toByte) // str8/16
    case 4 => Array.emptyByteArray
    case 5 => Array[Byte]('d', 'e', 'l', 0x7f)
    case _ => ("SYM" + rnd.nextInt(1000)).getBytes(UTF_8)
  }

  /** One msgpack value of `kind` (its batch's type for a key), sometimes
    * of another kind to make type mismatches. */
  private def mpValue(w: Mp, kind: Int, depth: Int, rnd: Random): Unit = {
    val k = if (odd(rnd, 30)) rnd.nextInt(9) else kind
    k match {
      case 0 => pick(rnd, 20) match {
        case 0 => w.int(rnd.nextLong())
        case 1 => w.uint64(Long.MinValue + rnd.nextInt(1000).toLong) // above Long.MaxValue
        case 2 => w.f64(FloatEdges(rnd.nextInt(FloatEdges.length)))  // integral floats
        case 3 => w.f32(FloatEdges(rnd.nextInt(FloatEdges.length)).toFloat)
        case _ => w.int(rnd.nextInt(100000) - 500)
      }
      case 1 => pick(rnd, 5) match {
        case 0 => w.f64(FloatEdges(rnd.nextInt(FloatEdges.length)))
        case 1 => w.f32(FloatEdges(rnd.nextInt(FloatEdges.length)).toFloat)
        case 2 => w.f32(rnd.nextFloat() * 1000)
        case _ => w.f64(math.round(rnd.nextDouble() * 100000) / 100.0)
      }
      case 2 => w.str(text(rnd))
      case 3 => w.bool(rnd.nextBoolean())
      case 4 if depth < 3 => mpMap(w, depth + 1, rnd)
      case 5 => w.nil()
      case 6 if depth < 3 =>
        val n = rnd.nextInt(4); w.arrayHeader(n); (0 until n).foreach(_ => mpValue(w, rnd.nextInt(4), depth + 1, rnd))
      case 7 => w.bin(Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte))
      case _ => w.int(rnd.nextInt(10))
    }
  }

  /** A map whose keys follow the batch shape; sometimes a repeated or a
    * non-string key. */
  private def mpMap(w: Mp, depth: Int, rnd: Random): Unit = {
    val keys = rnd.shuffle(Keys.take(6)).take(1 + rnd.nextInt(5)) ++
      (if (odd(rnd, 15)) Seq("px") else Nil)
    w.mapHeader(keys.length)
    keys.foreach { key =>
      if (odd(rnd, 60)) w.int(7) else w.str(key.getBytes(UTF_8))
      mpValue(w, shapeKind(key, depth), depth, rnd)
    }
  }

  /** The kind a key mostly carries: 0 long, 1 double, 2 string, 3 bool,
    * 4 map. */
  private def shapeKind(key: String, depth: Int): Int = key match {
    case "px" => 1
    case "qty" | "n" => 0
    case "sym" => 2
    case "ok" => 3
    case "meta" => if (depth < 2) 4 else 0
    case _ => 2
  }

  private def mpPayload(rnd: Random): Array[Byte] = {
    val w = new Mp(rnd)
    pick(rnd, 50) match {
      case 0 => mpValue(w, rnd.nextInt(4), 0, rnd)           // top-level scalar
      case 1 => w.arrayHeader(1); mpMap(w, 0, rnd)          // top-level array
      case _ => mpMap(w, 0, rnd)
    }
    val b = w.o.toByteArray
    pick(rnd, 40) match {
      case 0 => b.take(rnd.nextInt(b.length))                // truncated
      case 1 => b :+ rnd.nextInt(256).toByte                 // trailing byte
      case 2 => Array[Byte](0xc1.toByte) ++ b                // reserved tag
      case _ => b
    }
  }

  private def schemasFor(texts: Seq[String], rnd: Random): Seq[StructType] = {
    val inferred = JsonDecode.inferSchemaOver(spark, texts)
    inferred +: Seq.fill(3)(perturb(inferred, rnd))
  }

  test("msgpack: the kernel equals the text path row for row (1,200 payloads x 4 schemas)") {
    val rnd = new Random(1401)
    var fast = 0
    var cases = 0
    (0 until 8).foreach { batch =>
      calm = batch % 2 == 0
      val payloads = Seq.fill(150)(mpPayload(rnd)).map(b => (true, b)) :+ ((true, null))
      val texts = payloads.flatMap(p => Option(p._2).map(Msgpack.toJson))
      val schemas = schemasFor(texts, rnd)
      fast += compare(payloads, schemas)
      cases += payloads.length * schemas.length
    }
    // both paths must be exercised for the comparison to mean anything;
    // most perturbed schemas send every row to the text path
    assert(fast > cases / 8 && fast < cases - cases / 4, s"$fast of $cases took the fast path")
  }

  // ---------- JSON ----------

  private def ws(rnd: Random): String = rnd.nextInt(8) match {
    case 0 => " "
    case 1 => "\n\t "
    case 2 => "\r\n"
    case _ => ""
  }

  private val IntTokens = Seq("0", "-0", "7", "-12", "01", "+1", "123456789012345678",
    "1234567890123456789", "-9223372036854775808", "9223372036854775808",
    "123456789012345678901234567890")
  private val FloatTokens = Seq("1.5", "-0.0", "0.0", "100.0", "1e5", "1E5", "2.5e-3", "2.5E+3",
    "1.", ".5", "NaN", "Infinity", "-Infinity", "+INF", "1e400", "-1e-400", "0.1", "0.30000000000000004",
    "1.7976931348623157e308", "4.9e-324", "123456.78901234567", "0e99", "1.0E15", "9.99999999999999E14",
    "3.141592653589793238462643383279")

  private def jsonNumber(kind: Int, rnd: Random): String =
    if (kind == 0) {
      if (odd(rnd, 10)) IntTokens(rnd.nextInt(IntTokens.length))
      else (rnd.nextInt(200000) - 1000).toString
    } else pick(rnd, 8) match {
      case 0 => FloatTokens(rnd.nextInt(FloatTokens.length))
      case 1 => java.lang.Double.toString(rnd.nextGaussian() * math.pow(10, rnd.nextInt(40) - 20))
      case 2 => BigDecimal(rnd.nextDouble() * 1000).setScale(rnd.nextInt(20),
        BigDecimal.RoundingMode.HALF_UP).toString
      case _ =>
        // two decimals, or all 16-17 significant digits of a random double
        if (rnd.nextBoolean()) (math.round(rnd.nextDouble() * 100000) / 100.0).toString
        else java.lang.Double.toString(rnd.nextDouble() * 1000)
    }

  private def jsonString(rnd: Random): String = pick(rnd, 30) match {
    case 0 => "\"caf\u00e9\""
    case 1 => "\"esc\\\"aped\\\\ \\n \\u0041\""
    case 2 => "'single'"
    case 3 => "\"ctl\u0001\""
    case 4 => "\"\""
    case 5 => "\"emoji \ud83d\ude00\""
    case 6 => "\"bad \\q escape\""
    case _ => "\"SYM" + rnd.nextInt(1000) + "\""
  }

  private def jsonValue(kind: Int, depth: Int, rnd: Random): String = {
    val k = if (odd(rnd, 30)) rnd.nextInt(8) else kind
    k match {
      case 0 | 1 => jsonNumber(k, rnd)
      case 2 => jsonString(rnd)
      case 3 => Seq("true", "false", "True", "nul")(if (odd(rnd, 12)) 2 + rnd.nextInt(2) else rnd.nextInt(2))
      case 4 if depth < 3 => jsonObject(depth + 1, rnd)
      case 5 => "null"
      case 6 => "[" + ws(rnd) + Seq.fill(rnd.nextInt(3))(jsonNumber(0, rnd)).mkString("," + ws(rnd)) + "]"
      case _ => jsonNumber(0, rnd)
    }
  }

  private def jsonObject(depth: Int, rnd: Random): String = {
    val keys = rnd.shuffle(Keys.take(6)).take(1 + rnd.nextInt(5)) ++
      (if (odd(rnd, 15)) Seq("px") else Nil)
    keys.map { key =>
      val q = if (odd(rnd, 60)) "p\\u0078" else key // escaped key
      "\"" + q + "\"" + ws(rnd) + ":" + ws(rnd) + jsonValue(shapeKind(key, depth), depth, rnd)
    }.mkString("{" + ws(rnd), ws(rnd) + "," + ws(rnd), ws(rnd) + "}")
  }

  private def jsonPayload(rnd: Random): Array[Byte] = {
    val obj = jsonObject(0, rnd)
    val t = pick(rnd, 60) match {
      case 0 => ""
      case 1 => "  \n"
      case 2 => "\ufeff" + obj                     // BOM
      case 3 => obj + " trailing"
      case 4 => obj + "}"
      case 5 => "[" + obj + "]"
      case 6 => Seq("1", "\"x\"", "null", "true", "[]")(rnd.nextInt(5))
      case 7 => obj.take(rnd.nextInt(obj.length))  // truncated
      case 8 => obj.replace('"', '\'')             // single quotes
      case 9 => "\f" + obj                         // not JSON whitespace
      case 10 => ws(rnd) + obj + ws(rnd) + "\n"
      case _ => obj
    }
    t.getBytes(UTF_8)
  }

  test("JSON: the kernel equals the text path row for row (1,200 payloads x 4 schemas)") {
    val rnd = new Random(1402)
    var fast = 0
    var cases = 0
    (0 until 8).foreach { batch =>
      calm = batch % 2 == 0
      val payloads = Seq.fill(150)(jsonPayload(rnd)).map(b => (false, b)) :+ ((false, null))
      val texts = payloads.flatMap(p => Option(p._2).map(new String(_, UTF_8)))
      val schemas = schemasFor(texts, rnd)
      fast += compare(payloads, schemas)
      cases += payloads.length * schemas.length
    }
    assert(fast > cases / 8 && fast < cases - cases / 4, s"$fast of $cases took the fast path")
  }

  test("directed rows: a corrupt-record key, nested nulls, an empty schema, mixed codecs") {
    val st = StructType(Seq(StructField("a", LongType), StructField("m",
      StructType(Seq(StructField("b", DoubleType), StructField("c", StringType))))))
    val payloads = Seq(
      false -> """{"a": 1, "_graft_corrupt": "x"}""",
      false -> """{"a": null, "m": null}""",
      false -> """{"m": {"b": 2, "c": null}, "a": -5}""",
      false -> """{"m": {}, "a": 3}""",
      false -> """{"a": 1, "a": 2}""",
      false -> """{"a": 1.0}""",
      false -> """{"a": "1"}""",
      false -> """{"m": {"b": 0.30000000000000004}, "a": 1}""",
      false -> """{"m": {"b": 123456.78901234567}}""")
      .map { case (mp, t) => (mp, t.getBytes(UTF_8)) } ++ Seq(
      true -> Msgpack.encode(Map("a" -> 1L, "m" -> Map("b" -> -0.0, "c" -> "z"))),
      true -> Msgpack.encode(Map("a" -> 2.0, "m" -> Map("b" -> 1e15))),
      true -> Msgpack.encode(Map("a" -> 999999999999999.0)),
      true -> Msgpack.encode(Map("a" -> 1e15)),
      true -> Msgpack.encode(Map("a" -> -1e15)),
      true -> Msgpack.encode(Map("a" -> -0.0)),
      true -> Msgpack.encode(Map("_graft_corrupt" -> "x")))
    val fast = compare(payloads, Seq(st, StructType(Nil), StructType(Seq(StructField("a", StringType)))))
    assert(fast > 0)
  }

  test("a bench-shaped fixture takes the fast path on every row") {
    // the benchmark's wire format: 3 msgpack topics (fixstr symbol,
    // float64 prices, uint16 sizes, uint32 seq), 1 JSON topic with the
    // same fields as Python-rendered text
    val rnd = new Random(7)
    def fixstr(s: String) = Array((0xa0 | s.length).toByte) ++ s.getBytes(UTF_8)
    def be(v: Long, n: Int) = (n - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val rows = (0 until 2000).flatMap { i =>
      val sym = f"SYM${rnd.nextInt(500)}%04d"
      val bid = math.round((10 + rnd.nextDouble() * 990) * 100) / 100.0
      val ask = math.round((bid + (1 + rnd.nextInt(49)) / 100.0) * 100) / 100.0
      val (bs, as, seq) = (256 + rnd.nextInt(65280), 256 + rnd.nextInt(65280),
        65536L + (rnd.nextDouble() * 3.9e9).toLong)
      val mp = Array(0x86.toByte) ++ fixstr("symbol") ++ fixstr(sym) ++
        fixstr("bid_price") ++ Array(0xcb.toByte) ++ be(java.lang.Double.doubleToLongBits(bid), 8) ++
        fixstr("ask_price") ++ Array(0xcb.toByte) ++ be(java.lang.Double.doubleToLongBits(ask), 8) ++
        fixstr("bid_size") ++ Array(0xcd.toByte) ++ be(bs, 2) ++
        fixstr("ask_size") ++ Array(0xcd.toByte) ++ be(as, 2) ++
        fixstr("seq") ++ Array(0xce.toByte) ++ be(seq, 4)
      val js = s"""{"symbol": "$sym", "bid_price": $bid, "ask_price": $ask, "bid_size": $bs, """ +
        s""""ask_size": $as, "seq": $seq}"""
      Seq(Row(Seq("quotes", "trades", "book")(i % 3), i.toLong, mp),
        Row("status", i.toLong, js.getBytes(UTF_8)))
    }
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("kafka_topic", StringType), StructField("kafka_offset", LongType),
        StructField("value", BinaryType))))
    // the drain's own detection and inference over its sample
    val sample = src.select("kafka_topic", "value").collect().toSeq
    val formats = CollectorMain.topicFormats(sample)
    assert(formats == Map("quotes" -> "msgpack", "trades" -> "msgpack", "book" -> "msgpack",
      "status" -> "json"))
    val schema = JsonDecode.inferSchemaOver(spark, sample.map { r =>
      val v = r.getAs[Array[Byte]](1)
      if (formats(r.getString(0)) == "msgpack") Msgpack.toJson(v) else new String(v, UTF_8)
    })
    assert(schema.fieldNames.toSet ==
      Set("symbol", "bid_price", "ask_price", "bid_size", "ask_size", "seq"))
    val dec = PayloadDecoder(schema, null)
    val fallbacks = sample.count { r =>
      dec.fastDecode(formats(r.getString(0)) == "msgpack", r.getAs[Array[Byte]](1)) == null
    }
    assert(fallbacks == 0, s"$fallbacks of ${sample.length} bench-shaped rows left the fast path")
  }

  test("driver-side inference equals spark.read.json over random texts") {
    val rnd = new Random(1403)
    val sets: Seq[Seq[String]] = Seq(Nil, Seq(""), Seq("1", "[1,2]"), Seq("[{\"a\": 1}]", "{\"b\": 2}"),
      Seq("{\"a\": 1}", "{\"a\": \"x\"}", "garbage", "{\"a\": {\"b\": [1, 2.5]}}")) ++
      Seq.fill(30) {
        Seq.fill(1 + rnd.nextInt(40)) {
          if (rnd.nextInt(3) == 0) Msgpack.toJson(mpPayload(rnd)) else new String(jsonPayload(rnd), UTF_8)
        }.filter(_ != null)
      }
    sets.foreach { texts =>
      import spark.implicits._
      val viaJob = StructType(spark.read.json(spark.createDataset(
        spark.sparkContext.parallelize(texts, 3))).schema.fields
        .filterNot(_.name == "_corrupt_record"))
      assert(JsonDecode.inferSchemaOver(spark, texts) == viaJob, s"texts: $texts")
    }
  }
}

object PayloadDecodeProps {

  /** The text path as `JsonDecode.parseWithDegrade` ran it before the
    * decode kernel: `from_json` over `textCol` under the PERMISSIVE
    * corrupt-record protocol, `nullTextRaw` as `raw_value` where the text
    * is null. */
  def textPath(df: DataFrame, textCol: Column, as: String, payloadSchema: StructType,
               nullTextRaw: Column): DataFrame = {
    val corrupt = "_graft_corrupt"
    val fields = payloadSchema.fields.filterNot(_.name == "_corrupt_record")
    def withNullText(parsed: Column): Column = when(textCol.isNull, nullTextRaw).otherwise(parsed)
    if (fields.isEmpty)
      df.withColumn("raw_value", withNullText(textCol))
        .withColumn(as, lit(null).cast(StructType(Nil)))
    else {
      val parseSchema = StructType(fields).add(corrupt, StringType)
      df.withColumn(as, from_json(textCol, parseSchema,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)))
        .withColumn("raw_value", withNullText(
          coalesce(col(s"$as.$corrupt"), when(col(as).isNull, textCol))))
        .withColumn(as,
          when(col("raw_value").isNotNull, lit(null)).otherwise(col(as).dropFields(corrupt)))
    }
  }

  /** A collected value as text that tells apart every difference the
    * lake could hold: doubles by raw bits (-0.0, NaN), types by name. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("m{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "s\"" + s + "\""
    case o => o.getClass.getSimpleName + ":" + o
  }
}
