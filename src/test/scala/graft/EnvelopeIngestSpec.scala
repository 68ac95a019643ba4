package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Msgpack
import graft.ingest.GraftConfig

/** The Kafka-envelope ingest path: binary payloads under the 5-column
  * metadata envelope (the shape `kafkaSource` emits), per-topic codec
  * detection, mixed msgpack/JSON topics in ONE drain, degrade-to-raw_value
  * for undecodable payloads, and date partitioning off the broker
  * timestamp — the reference collector's actual hot path
  * (`redpanda_to_parquet_collector.py:172-220, 223-256, 324-411`). */
class EnvelopeIngestSpec extends SparkSpec {

  private val envSchema = StructType(Seq(
    StructField("kafka_topic", StringType),
    StructField("kafka_partition", LongType),
    StructField("kafka_offset", LongType),
    StructField("kafka_timestamp", TimestampType),
    StructField("kafka_key", StringType),
    StructField("value", BinaryType)))

  /** Two topics: `ticks` carries msgpack, `logs` carries JSON — plus one
    * garbage payload on each to exercise the degrade path. */
  private def writeEnvelopeSource(dir: String, n: Int): Unit = {
    // epoch-anchored (2024-03-01T00:00:00Z): Timestamp.valueOf would parse
    // in the JVM default zone and shift the date_path boundaries
    def ts(i: Int) = new java.sql.Timestamp(
      1709251200000L + i.toLong * 3600 * 1000) // hourly → exactly 2 dates over 48
    val rows = (0 until n).flatMap { i =>
      val payload = s"""{"px": ${i * 1.5}, "qty": $i}"""
      Seq(
        Row("ticks", (i % 2).toLong, i.toLong, ts(i), s"k$i",
          Msgpack.encodeFlatJson(payload)),
        Row("logs", 0L, i.toLong, ts(i), null,
          payload.getBytes("UTF-8")))
    } ++ Seq(
      // undecodable on both topics (offsets beyond the clean range)
      Row("ticks", 0L, (n + 1).toLong, ts(0), "bad",
        Array[Byte](0xc1.toByte, 0, 0)), // 0xc1: the never-used msgpack byte
      Row("logs", 0L, (n + 1).toLong, ts(0), "bad",
        "not json at all".getBytes("UTF-8")))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), envSchema)
      .write.mode("overwrite").parquet(dir)
  }

  test("mixed msgpack/JSON topics detect, decode, degrade, and partition in one drain") {
    val work = Files.createTempDirectory("envelope").toString
    val src = s"$work/src"
    writeEnvelopeSource(src, 48)

    val cfg = GraftConfig(outputDir = s"$work/out",
      skipExistingCheck = false, skipValidation = false)
    CollectorMain.run(spark, cfg, "file", src)

    val lake = spark.read.parquet(s"$work/out/lake")
    // every source row survives (degrade, never drop)
    assert(lake.count() == 48L * 2 + 2)
    // payload fields hoisted; envelope metadata retained; props gone
    for (c <- Seq("px", "qty", "kafka_topic", "kafka_offset", "raw_value", "date_path"))
      assert(lake.columns.contains(c), s"missing $c")
    // both topics decoded the same payload values
    val byTopic = lake.where(col("raw_value").isNull)
      .groupBy(col("kafka_topic"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byTopic("ticks") == ((48L, (0 until 48).map(_.toLong).sum)))
    assert(byTopic("logs") == byTopic("ticks"))
    // the two garbage payloads degraded with metadata intact
    val bad = lake.where(col("raw_value").isNotNull)
      .select(col("kafka_topic"), col("px")).collect()
    assert(bad.length == 2 && bad.forall(_.isNullAt(1)))
    // date partitioning off the broker timestamp: 48 hourly rows = 2 days
    assert(lake.select(col("date_path")).distinct().count() == 2)
    // exactly-once resume: a second drain with the same checkpoint no-ops
    CollectorMain.run(spark, cfg, "file", src)
    assert(spark.read.parquet(s"$work/out/lake").count() == 48L * 2 + 2)
  }

  test("the drain's lake equals the text path's on the mixed fixture: rows and schema hash") {
    // the text path the decode kernel replaced: the sample's payloads
    // rendered as JSON text (msgpack_to_json or a UTF-8 cast) inferred by
    // spark.read.json, and every payload parsed from that text by from_json
    val work = Files.createTempDirectory("envelope_text_path").toString
    val src = s"$work/src"
    writeEnvelopeSource(src, 48)
    CollectorMain.run(spark, GraftConfig(outputDir = s"$work/out", skipValidation = false),
      "file", src)
    val dest = s"$work/out/lake"
    val batch = spark.read.parquet(src)
    val sample = CollectorMain.envelopeSample(batch, CollectorMain.identityStats(batch)._2)
    val formats = CollectorMain.topicFormats(sample)
    val texts = sample.toSeq.map { r =>
      val v = r.getAs[Array[Byte]](1)
      if (formats.get(r.getString(0)).contains("msgpack")) Msgpack.toJson(v)
      else new String(v, "UTF-8")
    }.filter(_ != null)
    val textSchema = StructType(spark.read.json(spark.createDataset(texts)(
      org.apache.spark.sql.Encoders.STRING)).schema.fields.filterNot(_.name == "_corrupt_record"))
    assert(graft.sources.LakeWriter.schemaLineage(spark, dest).map(_._2) ==
      Seq(graft.sources.LakeWriter.schemaHash(textSchema)))

    val mp = coalesce(element_at(typedLit(formats), col("kafka_topic")), lit("json")) === "msgpack"
    val text = when(mp, Msgpack.msgpackToJson(col("value"))).otherwise(col("value").cast("string"))
    val viaText = graft.sources.LakeWriter.withDatePath(
      PayloadDecodeProps.textPath(batch, text, "data", textSchema,
          when(col("value").isNotNull, col("value").cast("string")))
        .select(Seq("kafka_topic", "kafka_partition", "kafka_offset", "kafka_timestamp",
          "kafka_key", "raw_value").map(col) :+ col("data.*"): _*),
      "kafka_timestamp")
    val lake = spark.read.parquet(dest)
    assert(lake.columns.toSet == viaText.columns.toSet)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(lake.columns.map(c => if (c == "date_path") col(c).cast("string") else col(c)): _*)
        .collect().toSeq.map(PayloadDecodeProps.canon).sorted
    val landed = rows(lake)
    assert(landed.length == 48 * 2 + 2)
    assert(landed == rows(viaText))
  }

  test("envelope redeliveries dedup on (partition, offset) in both modes") {
    // broker redelivery: the SAME (topic, partition, offset) messages
    // appear twice in the source — the reference's dedup key is the
    // message identity (:468-530, :741-748), not a payload field
    def writeWithRedelivery(dir: String): Unit = {
      writeEnvelopeSource(dir, 30)
      val dup = spark.read.parquet(dir)
        .where(col("kafka_topic") === "ticks" && pmod(col("kafka_offset"), lit(3L)) === 0)
      dup.write.mode("append").parquet(dir)
    }
    for ((skipDedup, tag) <- Seq((false, "keeper"), (true, "deferred"))) {
      val work = Files.createTempDirectory(s"envdedup_$tag").toString
      writeWithRedelivery(s"$work/src")
      val nDistinct = spark.read.parquet(s"$work/src")
        .select(col("kafka_topic"), col("kafka_partition"), col("kafka_offset"))
        .distinct().count()
      val cfg = GraftConfig(outputDir = s"$work/out",
        skipDeduplication = skipDedup, skipValidation = false)
      CollectorMain.run(spark, cfg, "file", s"$work/src")
      val lake = spark.read.parquet(s"$work/out/lake")
      assert(lake.count() == nDistinct, tag)
      assert(lake.select(col("kafka_topic"), col("kafka_partition"), col("kafka_offset"))
        .distinct().count() == nDistinct, tag)
    }
  }

  test("a retention-trimmed topic with no stride-aligned offsets still detects and drains") {
    // offsets 10050-10089: no multiple of 101 in range — the stride alone
    // samples NOTHING; the per-(topic,partition) min-offset union must
    // cover it or msgpack rows degrade wholesale (and an empty global
    // sample crashes the decode)
    val work = Files.createTempDirectory("trimmed").toString
    val rows = (0 until 40).map { i =>
      val payload = s"""{"px": ${i * 1.5}, "qty": $i}"""
      Row("ticks", 0L, (10050 + i).toLong,
        new java.sql.Timestamp(1709251200000L + i.toLong * 1000), s"k$i",
        Msgpack.encodeFlatJson(payload))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), envSchema)
      .write.parquet(s"$work/src")
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    CollectorMain.run(spark, cfg, "file", s"$work/src")
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.count() == 40)
    // decoded as msgpack (detection saw the min-offset row), not degraded
    assert(lake.where(col("raw_value").isNull).count() == 40)
    assert(lake.agg(sum(col("qty"))).head.getLong(0) == (0 until 40).sum.toLong)
  }

  test("an envelope payload carrying an event_id field validates on the message identity") {
    val work = Files.createTempDirectory("payloadeid").toString
    val rows = (0 until 30).map { i =>
      Row("ticks", 0L, i.toLong,
        new java.sql.Timestamp(1709251200000L + i.toLong * 1000), s"k$i",
        s"""{"event_id": ${i + 9000}, "qty": $i}""".getBytes("UTF-8"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), envSchema)
      .write.parquet(s"$work/src")
    // skipValidation=false is the point: the landed lake hoists a payload
    // event_id column that does NOT exist in the raw envelope source —
    // validation must key on (topic, partition, offset), not crash
    // selecting event_id from the source
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    CollectorMain.run(spark, cfg, "file", s"$work/src")
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.count() == 30 && lake.columns.contains("event_id"))
  }

  test("a non-envelope source with a binary column keeps draining through the props path") {
    val work = Files.createTempDirectory("binprops").toString
    spark.range(50).select(
        col("id").as("event_id"),
        timestamp_millis(lit(1709251200000L) + col("id")).as("ts"),
        col("id").as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value_num"),
        col("id").cast("string").cast("binary").as("value"), // raw-bytes attachment
        concat(lit("{\"k\": "), col("id"), lit("}")).as("props"))
      .write.parquet(s"$work/src")
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    CollectorMain.run(spark, cfg, "file", s"$work/src")
    val lake = spark.read.parquet(s"$work/out/lake")
    // decoded through the props path: k hoisted, no envelope columns
    assert(lake.count() == 50 && lake.columns.contains("k"))
  }

  test("a new payload field in a small high-offset append is seen by inference") {
    // incremental drain: 40 new rows at offsets 300-339 carry `extra`,
    // sitting after offset 303 with no stride multiple until 404 — the
    // per-partition TAIL must put them in the inference sample or the
    // field lands nowhere
    val work = Files.createTempDirectory("tailsample").toString
    val src = s"$work/src"
    writeEnvelopeSource(src, 140) // offsets 0-139 + 2 bad rows at 141
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = true)
    CollectorMain.run(spark, cfg, "file", src)
    val v2 = (300 until 340).map { i =>
      Row("ticks", 0L, i.toLong,
        new java.sql.Timestamp(1709251200000L + i.toLong * 1000), s"k$i",
        Msgpack.encodeFlatJson(s"""{"px": ${i * 1.5}, "qty": $i, "extra": $i}"""))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(v2, 1), envSchema)
      .write.mode("append").parquet(src)
    CollectorMain.run(spark, cfg, "file", src)
    val lake = spark.read.option("mergeSchema", "true").parquet(s"$work/out/lake")
    assert(lake.columns.contains("extra"), lake.columns.mkString(","))
    assert(lake.where(col("extra").isNotNull).count() == 40)
  }

  test("edge rows reach inference even with more stride hits than the sample bound") {
    // every base offset is a multiple of 101 → 1100 stride hits, above
    // inference's 1000-row bound; the 40 newest rows sit at offsets with
    // NO stride multiple and alone carry `extra`. A post-union limit
    // would fill entirely from the stride and starve the tail edge out
    // of the sample — `extra` then never lands anywhere (not even
    // raw_value). The fix bounds the stride BEFORE unioning the edges.
    val work = Files.createTempDirectory("stridestarve").toString
    val base = (0 until 1100).map { i =>
      Row("logs", 0L, i.toLong * 101,
        new java.sql.Timestamp(1709251200000L + i.toLong * 1000), s"k$i",
        s"""{"px": ${i * 1.5}, "qty": $i}""".getBytes("UTF-8"))
    }
    val tail = (0 until 40).map { i =>
      // 1099*101 = 110999; the next stride multiple is 111100, so none
      // of 111000-111039 is stride-aligned
      Row("logs", 0L, (111000 + i).toLong,
        new java.sql.Timestamp(1709251200000L + i.toLong * 1000), s"t$i",
        s"""{"px": 0.5, "qty": $i, "extra": $i}""".getBytes("UTF-8"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(base ++ tail, 4), envSchema)
      .write.parquet(s"$work/src")
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = true)
    CollectorMain.run(spark, cfg, "file", s"$work/src")
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.columns.contains("extra"), lake.columns.mkString(","))
    assert(lake.where(col("extra").isNotNull).count() == 40)
    // and the tail rows decoded as payload, not degraded
    assert(lake.where(col("raw_value").isNotNull).count() == 0)
  }

  test("a near-envelope source without kafka_key falls through to the props path") {
    // four kafka_* metadata columns + binary value but NO kafka_key: not
    // the envelope shape decodeEnvelope selects (it reads kafka_key
    // unconditionally) — the source must keep draining through the props
    // path instead of crashing with AnalysisException
    val work = Files.createTempDirectory("nearenv").toString
    spark.range(50).select(
        col("id").as("event_id"),
        timestamp_millis(lit(1709251200000L) + col("id")).as("ts"),
        lit("ticks").as("kafka_topic"), lit(0L).as("kafka_partition"),
        col("id").as("kafka_offset"),
        timestamp_millis(lit(1709251200000L)).as("kafka_timestamp"),
        col("id").cast("string").cast("binary").as("value"),
        concat(lit("{\"k\": "), col("id"), lit("}")).as("props"))
      .write.parquet(s"$work/src")
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    CollectorMain.run(spark, cfg, "file", s"$work/src")
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.count() == 50 && lake.columns.contains("k"))
  }

  test("an all-garbage topic drains with every row degraded, not a crash") {
    // NOTHING in the sample decodes as JSON → the inferred payload schema
    // is EMPTY; from_json cannot run over a struct it would have to strip
    // bare, so the drain must skip it and land every row as raw_value
    // with its metadata — the documented degrade-to-raw_value,
    // row-never-dropped contract
    val work = Files.createTempDirectory("emptyschema").toString
    val rows = (0 until 30).map { i =>
      Row("junk", 0L, i.toLong,
        new java.sql.Timestamp(1709251200000L + i.toLong * 1000), s"k$i",
        s"garbage payload $i".getBytes("UTF-8"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), envSchema)
      .write.parquet(s"$work/src")
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    CollectorMain.run(spark, cfg, "file", s"$work/src")
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.count() == 30)
    assert(lake.where(col("raw_value").isNotNull).count() == 30)
    for (c <- Seq("kafka_topic", "kafka_offset", "raw_value", "date_path"))
      assert(lake.columns.contains(c), s"missing $c")
  }

  test("driver-side detection classifies per topic at the reference threshold") {
    val work = Files.createTempDirectory("envelope2").toString
    writeEnvelopeSource(s"$work/src", 20)
    val sample = spark.read.parquet(s"$work/src").select("kafka_topic", "value").collect()
    assert(CollectorMain.topicFormats(sample) ==
      Map("ticks" -> "msgpack", "logs" -> "json"))
    // the threshold is strict: 9 clean decodes of 10 (a null payload
    // counts as a failure) is not above 0.9, 19 of 20 is; a null topic
    // gets no entry and decodes as JSON
    def topic(name: String, clean: Int, bad: Seq[Array[Byte]]): Seq[Row] =
      Seq.fill(clean)(Row(name, Msgpack.encode(Map("k" -> 1L)))) ++ bad.map(Row(name, _))
    val json = "{}".getBytes("UTF-8")
    assert(CollectorMain.topicFormats(topic("a", 9, Seq(json)) ++ topic("b", 19, Seq(json)) ++
        topic("c", 9, Seq(null)) ++ topic(null, 5, Nil)) ==
      Map("a" -> "json", "b" -> "msgpack", "c" -> "json"))
  }

  test("the pre-drain sample stays O(partitions x (K + 128)) rows on a 10^7-offset range") {
    // partition 0 spans 10^7 offsets, partition 1 spans 1000; the stride
    // is max(101, range / 64) per partition. The old fixed 101 stride
    // would have sampled 99,010 rows of partition 0 alone
    def part(p: Long, n: Long) = spark.range(0, n).select(lit("ticks").as("kafka_topic"),
      lit(p).as("kafka_partition"), col("id").as("kafka_offset"),
      lit(Array[Byte](1)).as("value"))
    val df = part(0L, 10000000L).unionByName(part(1L, 1000L))
    val bounds = Seq(Row("ticks", 0L, 0L, 9999999L), Row("ticks", 1L, 0L, 999L))
    val n = CollectorMain.envelopeSample(df, bounds).length
    // partition 0: stride 156249 → 65 rows; head 0-63; tail 9999936-9999999;
    // offsets 0 and 9999936 sit on both sides: 65 + 64 + 64 - 2 = 191.
    // partition 1: stride 101 → 10 rows; head 0-63; tail 936-999; offset
    // 0 on both: 10 + 64 + 64 - 1 = 137
    assert(n == 191 + 137, s"$n sample rows")
    assert(n <= 2 * (CollectorMain.SampleStrides + 1 + 2 * CollectorMain.SampleEdge))
  }
}
