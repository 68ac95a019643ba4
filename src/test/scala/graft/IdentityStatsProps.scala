package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{max, min}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** The collector's one-pass envelope count, [[CollectorMain.identityStats]]
  * (offset bitmaps per 32768-offset bucket), must equal the two-level
  * `groupBy(keys).count` of [[CollectorMain.keyStats]] on the message
  * identity (topic, partition, offset): same rows, same distinct
  * identities, nulls in any key column grouping as `groupBy` groups them.
  * Its per-(topic, partition) offset bounds must equal a plain min/max
  * aggregation. Frames carry identities redelivered into a second file,
  * nulls in each key and offsets on bitmap-bucket edges and at the long
  * extremes. */
object IdentityStatsProps extends Properties("graft.identitystats") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = { val s = SparkSpec.session
    s.sparkContext.setLogLevel("WARN"); s }

  private val schema = StructType(Seq(
    StructField("kafka_topic", StringType),
    StructField("kafka_partition", LongType),
    StructField("kafka_offset", LongType)))
  private val keys = schema.fieldNames.toSeq

  private def orNull[T >: Null](g: Gen[T]): Gen[T] = Gen.frequency(1 -> Gen.const(null), 5 -> g)

  // bucket numbers change between 32768k and 32768k + 1 for positive
  // offsets and between -32768k + 1 and -32768k for the rest
  private val offset: Gen[java.lang.Long] = orNull(Gen.frequency(
    4 -> (for (b <- Gen.chooseNum(-3L, 3L); d <- Gen.chooseNum(-1L, 1L)) yield b * 32768 + d),
    1 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue),
    3 -> Gen.chooseNum(0L, 200L)).map(Long.box))
  private val row: Gen[Row] = for {
    t <- orNull(Gen.oneOf("ticks", "logs"))
    p <- orNull(Gen.chooseNum(0L, 2L).map(Long.box))
    o <- offset
  } yield Row(t, p, o)

  property("identityStats == keyStats on the envelope keys; bounds == min/max") =
    Prop.forAllNoShrink(Gen.listOf(row), Gen.listOf(Gen.chooseNum(0, 1000))) {
      (rows, redelivered) =>
        val dir = Files.createTempDirectory("identitystats").toString
        try {
          def write(rs: Seq[Row]): Unit =
            spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)
              .write.mode("append").parquet(dir)
          write(rows)
          if (rows.nonEmpty) write(redelivered.map(i => rows(i % rows.size)))
          val df = spark.read.parquet(dir)
          val (stats, bounds) = CollectorMain.identityStats(df)
          val want = CollectorMain.keyStats(df, keys)
          val wantBounds = df.groupBy("kafka_topic", "kafka_partition")
            .agg(min("kafka_offset"), max("kafka_offset")).collect().toSet
          ((stats == want) :| s"identityStats $stats, keyStats $want") &&
            ((bounds.toSet == wantBounds) :| "offset bounds") &&
            ((bounds.size == wantBounds.size) :| "one bounds row per (topic, partition)")
        } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
}
