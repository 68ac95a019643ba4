package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Msgpack

class MsgpackSpec extends AnyFunSuite {

  test("scalar roundtrips") {
    assert(Msgpack.toJson(Msgpack.encode(null)) == "null")
    assert(Msgpack.toJson(Msgpack.encode(true)) == "true")
    assert(Msgpack.toJson(Msgpack.encode(false)) == "false")
    assert(Msgpack.toJson(Msgpack.encode(0)) == "0")
    assert(Msgpack.toJson(Msgpack.encode(127)) == "127")
    assert(Msgpack.toJson(Msgpack.encode(-32)) == "-32")
    assert(Msgpack.toJson(Msgpack.encode(123456789L)) == "123456789")
    assert(Msgpack.toJson(Msgpack.encode(-987654321L)) == "-987654321")
    assert(Msgpack.toJson(Msgpack.encode("hi")) == "\"hi\"")
    assert(Msgpack.toJson(Msgpack.encode(1.5)) == "1.5")
  }

  test("nested map/array") {
    val v = Map("a" -> 1, "b" -> Seq(1, 2, 3), "c" -> Map("d" -> "x"))
    assert(Msgpack.toJson(Msgpack.encode(v)) == """{"a":1,"b":[1,2,3],"c":{"d":"x"}}""")
  }

  test("string escaping") {
    assert(Msgpack.toJson(Msgpack.encode("a\"b\\c\nd")) == "\"a\\\"b\\\\c\\nd\"")
  }

  test("malformed input returns null") {
    assert(Msgpack.toJson(Array[Byte](0xc1.toByte)) == null)       // reserved type
    assert(Msgpack.toJson(Array[Byte](0x91.toByte)) == null)       // truncated array
    assert(Msgpack.toJson("not msgpack json".getBytes) == null)    // trailing junk
  }

  test("rendering contract the payload decode kernel mirrors") {
    def f64(d: Double) = Array(0xcb.toByte) ++
      (7 to 0 by -1).map(i => (java.lang.Double.doubleToRawLongBits(d) >> (8 * i)).toByte)
    def f32(f: Float) = Array(0xca.toByte) ++
      (3 to 0 by -1).map(i => (java.lang.Float.floatToRawIntBits(f) >> (8 * i)).toByte)
    // an integral double below 1e15 in magnitude renders as an integer,
    // so -0.0 loses its sign; from 1e15 on it renders as float text
    assert(Msgpack.toJson(f64(-0.0)) == "0")
    assert(Msgpack.toJson(f64(999999999999999.0)) == "999999999999999")
    assert(Msgpack.toJson(f64(-999999999999999.0)) == "-999999999999999")
    assert(Msgpack.toJson(f64(1e15)) == "1.0E15")
    assert(Msgpack.toJson(f64(1.5)) == "1.5")
    // float32 widens to double before rendering
    assert(Msgpack.toJson(f32(0.1f)) == 0.1f.toDouble.toString)
    assert(Msgpack.toJson(f32(0.1f)) != "0.1")
    assert(Msgpack.toJson(f32(-2.0f)) == "-2")
    // uint64 above Long.MaxValue renders as unsigned text
    assert(Msgpack.toJson(Array(0xcf.toByte) ++ Array.fill(8)(0xff.toByte)) ==
      "18446744073709551615")
    // no JSON text for NaN, ±Inf, trailing bytes or a non-string map key
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { d =>
      assert(Msgpack.toJson(f64(d)) == null, s"for $d")
      assert(Msgpack.toJson(f32(d.toFloat)) == null, s"for float32 $d")
    }
    assert(Msgpack.toJson(Msgpack.encode(Map("a" -> 1)) :+ 0.toByte) == null)
    assert(Msgpack.toJson(Array(0x81, 0x01, 0x01).map(_.toByte)) == null)
  }

  test("format detection") {
    val mp = (1 to 20).map(i => Msgpack.encode(Map("k" -> i)))
    val js = (1 to 20).map(i => s"""{"k": $i}""".getBytes("UTF-8"))
    assert(Msgpack.detectFormat(mp) == "msgpack")
    assert(Msgpack.detectFormat(js) == "json")
    assert(Msgpack.detectFormat(Nil) == "json")
  }

  test("property: long roundtrip (seeded random + boundaries)") {
    val rnd = new scala.util.Random(42)
    val edges = Seq(0L, 1L, -1L, 127L, 128L, -32L, -33L, 255L, 256L,
      65535L, 65536L, Int.MaxValue.toLong, Int.MinValue.toLong,
      Long.MaxValue, Long.MinValue + 1)
    (edges ++ Seq.fill(500)(rnd.nextLong())).foreach { l =>
      assert(Msgpack.toJson(Msgpack.encode(l)) == l.toString, s"for $l")
    }
  }

  test("property: string roundtrip (seeded random ascii)") {
    val rnd = new scala.util.Random(7)
    Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(120)).mkString).foreach { s =>
      assert(Msgpack.toJson(Msgpack.encode(s)) == "\"" + s + "\"")
    }
  }

  test("flat json re-encode matches original semantics") {
    val j = """{"k": 42, "name": "abc", "ok": true, "x": 1.25}"""
    assert(Msgpack.toJson(Msgpack.encodeFlatJson(j)) ==
      """{"k":42,"name":"abc","ok":true,"x":1.25}""")
  }
}
