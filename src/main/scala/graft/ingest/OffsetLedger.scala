package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-resume offset ledger.
  *
  * The reference stores NO consumer-group state (unique UUID group per run,
  * `enable.auto.commit=False`, `app/redpanda_to_parquet_collector.py:105-107,
  * 328-331`); resume position is derived by scanning the lake for
  * `max(kafka_offset)` per `kafka_partition` (`:468-530`). Here that is a
  * projected parquet scan (two columns — column pruning reaches the reader)
  * plus a groupBy-max, whose shuffle is tiny (one row per Kafka partition).
  *
  * At 100 TB the scan cost is bounded by parquet footer stats: with
  * `filter(col >= x)` pushdown plus the small projection, Spark reads only
  * the offset/partition columns' pages; the idiomatic alternative (noted in
  * SURVEY §2.8) is a Structured Streaming checkpoint, implemented in
  * `graft.streaming.IngestPipeline`.
  *
  * [[maxOffsets]] backs `q_offset_ledger`; the collector keys its lake
  * watermarks by (topic, partition) instead (`CollectorMain.identityStats`).
  */
object OffsetLedger {

  /** One row per partition: the highest offset persisted (A1). */
  def maxOffsets(lake: DataFrame,
                 partCol: String = "kafka_partition",
                 offCol: String = "kafka_offset"): DataFrame =
    lake.select(col(partCol), col(offCol)) // projection → parquet column pruning
      .groupBy(col(partCol))
      .agg(max(col(offCol)).as("max_offset"))
}
