package graft

import org.apache.spark.sql.functions._

import graft.functions.{ConnectedComponents, Exact, Msgpack, SkewJoin}
import graft.functions.VectorFunctions.cosineFrom

/** Regression net for the library-hardening contracts: ANSI-safe
  * divisions, msgpack malformed-input behavior, and internal-column
  * collision guards. Each test here encodes a failure that USED to crash,
  * loop, or silently mis-answer. */
class HardeningSpec extends SparkSpec {
  import spark.implicits._

  test("dstddev: 1-row group yields NULL like stddev_samp, never DIVIDE_BY_ZERO") {
    val df = Seq(("a", 1.0), ("b", 2.0), ("b", 4.0)).toDF("k", "v")
    val got = df.groupBy($"k")
      .agg(Exact.dstddev($"v").as("sd"), stddev_samp($"v").as("ref"))
      .collect().map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got("a")._1.isEmpty && got("a")._2.isEmpty, "1-row group must be NULL in both")
    assert(math.abs(got("b")._1.get.asInstanceOf[Double] - math.sqrt(2.0)) < 1e-12)
  }

  test("davg skips nulls in BOTH numerator and denominator, matching AVG") {
    val df = Seq(Some(2.0), None, Some(4.0)).toDF("v")
    val r = df.agg(Exact.davg($"v").as("d"), avg($"v").as("ref")).head()
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 3.0,
      s"davg ${r.getDouble(0)} must equal AVG ${r.getDouble(1)} on nullable input")
  }

  test("cosineFrom: zero-norm vector yields NULL, not a query abort") {
    val df = Seq((1L, 6.0, 0.0), (2L, 6.0, 2.0)).toDF("id", "na", "nb")
    val got = df.select($"id", cosineFrom(lit(6L), $"na", $"nb").as("c"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).isEmpty, "zero norm product must be NULL")
    assert(got(2L).contains(0.5))
  }

  test("salting refuses an input that already carries _salt") {
    val df = Seq((1L, "x")).toDF("k", "_salt")
    val e = intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(df, Seq((1L, "dim")).toDF("k", "name"), "k", 4)
    }
    assert(e.getMessage.contains("_salt"))
  }

  test("connected components drop null edge endpoints instead of NPEing") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null), (5L, 6L)).toDF("u", "v")
    val lab = ConnectedComponents.labels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.functions.Checkpoints.releaseAll()
    assert(lab(1L) == lab(2L) && lab(5L) == lab(6L))
    assert(!lab.contains(3L) && !lab.contains(4L), "null-edge endpoints are not nodes")
  }

  test("msgpack: negative 32-bit lengths are malformed (null), and return promptly") {
    // arr32 claiming 2^31-1 elements of bin32 with length -5: the old
    // clamped slice stepped the cursor BACKWARDS and looped ~2^31 times
    val crafted = Array(0xdd, 0x7f, 0xff, 0xff, 0xff, 0xc6, 0xff, 0xff, 0xff, 0xfb)
      .map(_.toByte)
    val t0 = System.nanoTime()
    assert(Msgpack.toJson(crafted) == null)
    assert((System.nanoTime() - t0) < 2e9, "malformed record must fail fast")
    // str8 with a length past the buffer end is equally malformed
    assert(Msgpack.toJson(Array(0xd9, 0x40, 0x61).map(_.toByte)) == null)
  }

  test("msgpack: non-finite floats are malformed, not invalid JSON") {
    def f64(bits: Long): Array[Byte] =
      Array(0xcb.toByte) ++ (7 to 0 by -1).map(i => ((bits >> (8 * i)) & 0xff).toByte)
    assert(Msgpack.toJson(f64(java.lang.Double.doubleToLongBits(Double.NaN))) == null)
    assert(Msgpack.toJson(f64(java.lang.Double.doubleToLongBits(Double.PositiveInfinity))) == null)
    // a finite double still decodes
    assert(Msgpack.toJson(f64(java.lang.Double.doubleToLongBits(1.5))) == "1.5")
  }

  test("msgpack encode refuses strings past the str8 length byte") {
    val e = intercept[IllegalArgumentException] { Msgpack.encode("x" * 300) }
    assert(e.getMessage.contains("255"))
    // the 255-byte boundary itself round-trips
    val s = "y" * 255
    assert(Msgpack.toJson(Msgpack.encode(s)) == "\"" + s + "\"")
  }

  test("json decode degrades malformed payloads to raw_value (contract was dead code)") {
    val df = Seq((1L, """{"k": 7}"""), (2L, """{"k": 8}"""), (3L, "{broken"), (4L, null))
      .toDF("id", "props")
    val out = graft.ingest.JsonDecode.decode(spark, df, "props")
      .select($"id", $"data.k", $"raw_value")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(7L), None) && out(2L) == (Some(8L), None))
    assert(out(3L)._1.isEmpty, "malformed row must not surface a struct")
    assert(out(3L)._2.contains("{broken"), "malformed row must keep the raw payload")
    assert(out(4L) == (None, None), "null payload is neither decoded nor corrupt")
    // the corrupt-record marker must not leak as a payload field
    val flat = graft.ingest.JsonDecode.decodeFlat(spark, df, "props")
    assert(!flat.columns.exists(_.contains("corrupt")), flat.columns.mkString(","))
  }

  test("parseWithDegrade: rows are never dropped; raw_value xor decoded, every schema") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the one shared degrade body behind decode / decodeEnvelope /
    // decodeAndDatePartition — pin its row-preservation contract across
    // every input kind: clean, type-mismatched, unknown-field, garbage,
    // empty string, null
    val rows = (0 until 200).map { i =>
      val kind = i % 6
      val text = kind match {
        case 0 => s"""{"k": $i, "s": "v$i"}"""          // clean
        case 1 => s"""{"k": "notanumber$i"}"""          // type mismatch -> corrupt
        case 2 => s"""{"k": $i, "unknown_f": $i}"""      // unknown field -> ignored, clean
        case 3 => s"garbage $i"                           // unparseable
        case 4 => ""                                      // empty string -> corrupt
        case _ => null                                    // null in -> null out
      }
      (i.toLong, kind, text)
    }
    val df = rows.toDF("id", "kind", "props")
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val out = graft.ingest.JsonDecode
      .parseWithDegrade(df, col("props").cast("string"), "data", schema)
      .select($"id", $"kind", $"props", $"raw_value", $"data.k")
      .collect()
    assert(out.length == 200, "a row was dropped")
    out.foreach { r =>
      val (kind, props) = (r.getInt(1), Option(r.getString(2)))
      val raw = Option(r.getString(3))
      val k = if (r.isNullAt(4)) None else Some(r.getLong(4))
      kind match {
        case 0 | 2 => assert(raw.isEmpty && k.isDefined, s"clean row degraded: $r")
        case 1 | 3 | 4 => assert(raw == props && k.isEmpty,
          s"undecodable row must keep raw text and no struct: $r")
        case _ => assert(raw.isEmpty && k.isEmpty, s"null payload row: $r")
      }
    }
    // EMPTY payload schema: every non-null text degrades, nothing crashes
    val empty = graft.ingest.JsonDecode
      .parseWithDegrade(df, col("props").cast("string"), "data", StructType(Nil))
      .select($"kind", $"props", $"raw_value").collect()
    assert(empty.length == 200)
    empty.foreach { r =>
      assert(Option(r.getString(2)) == Option(r.getString(1)),
        s"empty schema must degrade every row to its own text: $r")
    }
  }

  test("content hash distinguishes which column holds the value") {
    val df = Seq((Option("x"), Option.empty[String]), (Option.empty[String], Option("x")))
      .toDF("a", "b")
    assert(graft.ingest.Dedup.dedupByContent(df, exclude = _ => false).count() == 2,
      "null-position rows are distinct content and must both survive")
  }

  test("partition date values contain no percent-escapes in directory names") {
    val dest = java.nio.file.Files.createTempDirectory("datedirs").toString + "/lake"
    val ev = graft.sources.LakeWriter.withDatePath(Tables(spark, sf001, "events"))
    ev.write.partitionBy("date_path").parquet(dest)
    val dirs = new java.io.File(dest).listFiles.filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(d => d.startsWith("date_path=") && !d.contains("%")),
      s"escaped or unexpected partition dirs: ${dirs.mkString(",")}")
  }
}
