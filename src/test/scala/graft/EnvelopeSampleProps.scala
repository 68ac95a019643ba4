package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.functions.Msgpack
import graft.ingest.JsonDecode

/** The collector's pre-drain envelope sample ([[CollectorMain.samplePayload]]:
  * per-partition strides and edges from one literal map, collected in one
  * job, detected, decoded and inferred on the driver) against the
  * persisted-sample path it replaced, rebuilt here with distributed
  * operators: a broadcast join of the offset bounds, the fixed 101 stride
  * plus 64-row edges, a per-topic decode-success aggregate for the codec,
  * `msgpack_to_json` / UTF-8 cast per topic, the stride texts capped at
  * 1000 before the union with the edge texts. On every random envelope
  * source (retention-trimmed partitions, a field first seen in a
  * partition's last rows, mixed and garbage codecs, null offsets and
  * topics) the new sample must classify each topic the same way and infer
  * every field the old path inferred, at the same or a wider type. The
  * generated partitions span fewer than 101 × [[CollectorMain.SampleStrides]]
  * offsets, where both paths stride by 101. */
object EnvelopeSampleProps extends Properties("graft.envelopesample") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = { val s = SparkSpec.session
    s.sparkContext.setLogLevel("WARN"); s }

  private val schema = StructType(Seq(
    StructField("kafka_topic", StringType),
    StructField("kafka_partition", LongType),
    StructField("kafka_offset", LongType),
    StructField("kafka_timestamp", TimestampType),
    StructField("kafka_key", StringType),
    StructField("value", BinaryType)))

  /** One (topic, partition)'s rows: `n` offsets from `start`, payloads in
    * the topic's codec, the last `tail` of them carrying `extra`, every
    * `garbageEvery`-th one undecodable, plus `nullOffsets` rows. */
  private final case class Part(topic: String, partition: Long, msgpack: Boolean, start: Long,
                                n: Int, tail: Int, integralPx: Boolean, garbageEvery: Int,
                                nullOffsets: Int)

  private val part: Gen[Part] = for {
    topic <- Gen.frequency(6 -> Gen.oneOf("ticks", "logs", "quotes"), 1 -> Gen.const(null))
    partition <- Gen.chooseNum(0L, 2L)
    msgpack <- Gen.oneOf(true, false)
    start <- Gen.frequency(2 -> Gen.const(0L), 1 -> Gen.chooseNum(1L, 20000L))
    n <- Gen.chooseNum(1, 500)
    tail <- Gen.chooseNum(0, 12)
    integralPx <- Gen.oneOf(true, false)
    garbageEvery <- Gen.oneOf(0, 7, 40)
    nullOffsets <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.chooseNum(1, 3))
  } yield Part(topic, partition, msgpack, start, n, tail, integralPx, garbageEvery, nullOffsets)

  private def rows(p: Part): Seq[Row] = {
    def payload(i: Int): Array[Byte] = {
      val px = if (p.integralPx) s"${i % 5}.0" else s"${i * 1.5 + 0.25}"
      val extra = if (i >= p.n - p.tail) s""", "extra": "e$i"""" else ""
      val json = s"""{"px": $px, "qty": $i$extra}"""
      if (p.garbageEvery > 0 && i % p.garbageEvery == p.garbageEvery - 1)
        if (p.msgpack) Array[Byte](0xc1.toByte, 0, 0) else "not json".getBytes("UTF-8")
      else if (p.msgpack) Msgpack.encodeFlatJson(json)
      else json.getBytes("UTF-8")
    }
    def ts(i: Int) = new java.sql.Timestamp(1709251200000L + i * 1000L)
    (0 until p.n).map(i =>
      Row(p.topic, p.partition, p.start + i, ts(i), s"k$i", payload(i))) ++
      (0 until p.nullOffsets).map(i => Row(p.topic, p.partition, null, ts(i), null, payload(i)))
  }

  /** The replaced path: (topic → codec, inferred payload schema). */
  private def persistedSamplePath(df: DataFrame): (Map[String, String], StructType) = {
    val bounds = df.groupBy("kafka_topic", "kafka_partition")
      .agg(min("kafka_offset").as("_min_off"), max("kafka_offset").as("_max_off"))
    val sample = df.join(broadcast(bounds), Seq("kafka_topic", "kafka_partition"), "left")
      .select(col("kafka_topic"), col("value"),
        (pmod(col("kafka_offset"), lit(101L)) === 0).as("_stride"),
        (col("kafka_offset") < col("_min_off") + 64 ||
          col("kafka_offset") > col("_max_off") - 64).as("_edge"))
      .where(col("_stride") || col("_edge"))
    val decoded = Msgpack.msgpackToJson(col("value"))
    val formats = sample.groupBy("kafka_topic")
      .agg(avg(when(decoded.isNotNull, 1.0).otherwise(0.0)).as("ok"))
      .where(col("kafka_topic").isNotNull).collect()
      .map(r => r.getString(0) -> (if (r.getDouble(1) > Msgpack.FormatThreshold) "msgpack"
        else "json")).toMap
    val text = when(coalesce(element_at(typedLit(formats), col("kafka_topic")), lit("json")) ===
      "msgpack", decoded).otherwise(col("value").cast("string")).as("_json")
    val strideTexts = sample.where(col("_stride")).select(text).na.drop.limit(1000)
    val edgeTexts = sample.where(col("_edge")).select(text)
    (formats, JsonDecode.inferSchemaOver(spark, strideTexts.unionByName(edgeTexts), "_json"))
  }

  /** `now` holds every value `old` can: the same type, or one JSON
    * inference widens it to. */
  private def widens(old: DataType, now: DataType): Boolean = (old, now) match {
    case (a, b) if a == b => true
    case (_, StringType) | (NullType, _) => true
    case (LongType, DoubleType) | (LongType, _: DecimalType) => true
    case (o: StructType, n: StructType) =>
      o.fields.forall(f => n.fields.exists(g => g.name == f.name && widens(f.dataType, g.dataType)))
    case (ArrayType(o, _), ArrayType(n, _)) => widens(o, n)
    case _ => false
  }

  property("the collected sample classifies as the old one and infers every field it did") =
    Prop.forAllNoShrink(Gen.chooseNum(1, 5).flatMap(Gen.listOfN(_, part))) { parts =>
      // one Part per (topic, partition), so offsets stay distinct
      val unique = parts.groupBy(p => (p.topic, p.partition)).values.map(_.head).toSeq
      val dir = Files.createTempDirectory("envelopesample").toString
      try {
        spark.createDataFrame(spark.sparkContext.parallelize(unique.flatMap(rows), 3), schema)
          .write.parquet(s"$dir/src")
        val df = spark.read.parquet(s"$dir/src")
        val (oldFormats, oldSchema) = persistedSamplePath(df)
        val (formats, inferred) =
          CollectorMain.samplePayload(spark, df, CollectorMain.identityStats(df)._2)
        val narrowed = oldSchema.fields.filterNot(f =>
          inferred.fields.exists(g => g.name == f.name && widens(f.dataType, g.dataType)))
        ((formats == oldFormats) :| s"formats $formats, old $oldFormats") &&
          (narrowed.isEmpty :| s"lost or narrowed ${narrowed.mkString(", ")}; new $inferred")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
}
