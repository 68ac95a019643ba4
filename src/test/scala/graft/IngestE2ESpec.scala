package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Msgpack
import graft.ingest.{Dedup, Flatten}
import graft.sources.LakeWriter

/** End-to-end collector parity on reference-shaped data (FIXTURES.md §A):
  * Kafka envelope + nested market-data payload → decode (both codecs) →
  * flatten → date partition → dedup → partitioned lake write, asserting the
  * exact A2 output schema. */
class IngestE2ESpec extends SparkSpec {

  private val payloadJson =
    """{"event_type": "market_data", "source": "ibkr",
      | "data": {"symbol": "AAPL", "bid": 150.25, "ask": 150.30, "volume": 1000000},
      | "metadata": {"exchange": "NASDAQ", "timestamp": "2025-10-17T10:30:00Z"}}""".stripMargin

  private def envelope(offset: Long, value: Array[Byte]) =
    Row("md.topic", 0L, offset, 1760697000000L + offset * 1000, s"key$offset", value)

  private val envSchema = StructType(Seq(
    StructField("kafka_topic", StringType), StructField("kafka_partition", LongType),
    StructField("kafka_offset", LongType), StructField("kafka_timestamp", LongType),
    StructField("kafka_key", StringType), StructField("value", BinaryType)))

  test("A1 envelope → A2 flattened parquet row, JSON and msgpack codecs agree") {
    val payloadSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("source", StringType),
      StructField("data", StructType(Seq(
        StructField("symbol", StringType), StructField("bid", DoubleType),
        StructField("ask", DoubleType), StructField("volume", LongType)))),
      StructField("metadata", StructType(Seq(
        StructField("exchange", StringType), StructField("timestamp", StringType))))))

    def pipeline(df: org.apache.spark.sql.DataFrame, decoded: org.apache.spark.sql.Column) = {
      val withPayload = df.withColumn("data", from_json(decoded, payloadSchema)).drop("value")
      Flatten.flatten(withPayload)
        .withColumn("date_path",
          date_format(timestamp_millis(col("kafka_timestamp")), "yyyy/MM/dd"))
    }

    val jsonRows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(envelope(1, payloadJson.getBytes("UTF-8")))), envSchema)
    val mpPayload = Msgpack.encode(scala.collection.immutable.ListMap(
      "event_type" -> "market_data", "source" -> "ibkr",
      "data" -> scala.collection.immutable.ListMap(
        "symbol" -> "AAPL", "bid" -> 150.25, "ask" -> 150.30, "volume" -> 1000000L),
      "metadata" -> scala.collection.immutable.ListMap(
        "exchange" -> "NASDAQ", "timestamp" -> "2025-10-17T10:30:00Z")))
    val mpRows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(envelope(1, mpPayload))), envSchema)

    val outJson = pipeline(jsonRows, col("value").cast("string"))
    val outMp = pipeline(mpRows, Msgpack.msgpackToJson(col("value")))

    // A2 schema: 5 metadata cols + payload top-level + data.* hoisted
    // unprefixed + metadata_* prefixed (+ derived date_path)
    val expectCols = Seq("kafka_topic", "kafka_partition", "kafka_offset",
      "kafka_timestamp", "kafka_key", "event_type", "source",
      "symbol", "bid", "ask", "volume", "metadata_exchange", "metadata_timestamp",
      "date_path")
    assert(outJson.columns.toSeq == expectCols)
    assert(outMp.columns.toSeq == expectCols)
    assert(outJson.collect().toSeq == outMp.collect().toSeq)
    val r = outJson.collect().head
    assert(r.getAs[String]("symbol") == "AAPL" && r.getAs[Double]("bid") == 150.25 &&
      r.getAs[String]("metadata_exchange") == "NASDAQ" &&
      r.getAs[String]("date_path") == "2025/10/17")
  }

  test("full collector run: decode → dedup vs lake → partitioned write → count validation") {
    val work = java.nio.file.Files.createTempDirectory("e2e").toString
    val lake = s"$work/lake"
    val batch1 = (1L to 50L).map(o => envelope(o, payloadJson.getBytes("UTF-8")))
    val batch2 = (40L to 90L).map(o => envelope(o, payloadJson.getBytes("UTF-8")))
    def ingest(rows: Seq[Row]): Unit = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), envSchema)
      val flat = Flatten.flatten(
        df.withColumn("data",
          from_json(col("value").cast("string"), StructType(Seq(
            StructField("event_type", StringType), StructField("source", StringType)))))
          .drop("value"))
        .withColumn("date_path",
          date_format(timestamp_millis(col("kafka_timestamp")), "yyyy/MM/dd"))
      val fresh =
        if (!new java.io.File(lake).exists) flat
        else Dedup.antiJoinNew(flat, spark.read.parquet(lake),
          Seq("kafka_partition", "kafka_offset"), broadcastExisting = true)
      LakeWriter.writePartitioned(fresh, lake, clusterBy = Seq("kafka_partition", "kafka_offset"))
    }
    ingest(batch1)
    ingest(batch2) // overlaps 40-50; dedup must drop the overlap
    val back = spark.read.parquet(lake)
    assert(back.count() == 90)
    // count validation (A9): per-partition contiguity check
    val v = back.groupBy("kafka_partition")
      .agg(count(lit(1)).as("n"), min("kafka_offset").as("lo"), max("kafka_offset").as("hi"))
      .collect().head
    assert(v.getAs[Long]("n") == 90 && v.getAs[Long]("lo") == 1 && v.getAs[Long]("hi") == 90)
  }
}
