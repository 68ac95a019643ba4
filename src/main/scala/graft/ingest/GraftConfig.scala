package graft.ingest

/** The reference collector's environment-variable configuration surface as
  * ONE typed object (`redpanda_to_parquet_collector.py:80-103`,
  * `docker-compose.yml:29-44`) — previously each knob existed only as a
  * scattered option on `LakeWriter` / `IngestPipeline`. A user of the
  * reference configures via env; this gives them the same table, parsed
  * with the same defaults and the same truthy rules, and documents where
  * each knob lands in the Spark engine.
  *
  * Knob → Spark mapping:
  *  - `BOOTSTRAP_SERVERS`            → `kafka.bootstrap.servers` in [[kafkaOptions]]
  *  - `OUTPUT_DIR`                   → lake root passed to `LakeWriter` sinks
  *  - `MAX_MESSAGES`                 → `maxOffsetsPerTrigger`-style cap; None = drain
  *  - `BATCH_SIZE` / `MEMORY_BATCH_SIZE` → subsumed by Spark microbatching:
  *     AvailableNow plans its own batches; no user knob needed (kept for
  *     parity so configs round-trip)
  *  - `MAX_WORKERS`                  → executor parallelism (`local[N]` / cluster cores);
  *     per-topic threads are Spark tasks here
  *  - `SKIP_EXISTING_CHECK`          → skip `OffsetLedger` lake mining (fresh export)
  *  - `SKIP_DEDUPLICATION`           → deferred (staging + merge) vs inline anti-join —
  *     WHEN dedup happens, not IF (reference `:87` comment)
  *  - `SKIP_VALIDATION`              → skip the post-run count validation
  *     (`q_count_validation` shape)
  *  - `KAFKA_CLEANUP_ENABLED`        → `KafkaTrim` (broker-side trim after a
  *     validated drain); no drain calls the trim yet, so `CollectorMain.run`
  *     rejects `true` up front rather than silently skipping the trim
  *  - `KAFKA_CLEANUP_MODE` / `STAGING_RETENTION_DAYS` → not parsed: `KafkaTrim`
  *     has one mode (after the drain validates), and the staging GC the
  *     retention horizon fed is dead code in the reference itself (SURVEY S15)
  *  - `PARQUET_COMPRESSION` / `COMPRESSION_LEVEL` →
  *     `spark.sql.parquet.compression.codec` and parquet-mr's
  *     `parquet.compression.codec.zstd.level` (the session conf reaches
  *     every parquet writer's Hadoop conf; `spark.io.compression.zstd.level`
  *     would set the shuffle codec's level instead)
  *  - `ROW_GROUP_SIZE`               → parsed for round-trip parity only: the
  *     reference counts ROWS per row group, Spark's `parquet.block.size`
  *     counts BYTES — there is no faithful direct mapping, so the knob is
  *     deliberately NOT wired to a writer option (size row groups via
  *     `parquet.block.size` on the session when needed)
  *  - `FETCH_MIN_BYTES` / `MAX_PARTITION_FETCH_BYTES` → the `kafka.*` source
  *     options in [[kafkaOptions]], which `IngestPipeline.kafkaSource(spark, cfg, …)`
  *     applies; the defaults are the reference's values
  *  - `LOG_DIR` / `PROGRESS_UPDATE_INTERVAL` / `KAFKA_CONTAINER_NAME` → no Spark
  *     equivalent (Spark's own logging/UI/metrics); parsed for round-trip parity
  */
final case class GraftConfig(
    bootstrapServers: String = "192.168.1.110:19092",
    outputDir: String = "./data/redpanda_parquet",
    logDir: String = "/app/logs",
    maxMessages: Option[Long] = None,
    batchSize: Long = 1000000L,
    maxWorkers: Int = 4,
    skipExistingCheck: Boolean = true,
    skipDeduplication: Boolean = true,
    skipValidation: Boolean = false,
    kafkaCleanupEnabled: Boolean = false,
    kafkaContainerName: String = "redpanda-1",
    parquetCompression: String = "zstd",
    compressionLevel: Int = 3,
    rowGroupSize: Long = 1000000L,
    fetchMinBytes: Long = 10485760L,
    maxPartitionFetchBytes: Long = 52428800L,
    progressUpdateInterval: Long = 250000L,
    memoryBatchSize: Long = 1000000L) {

  /** The session-level Spark confs a drain under this config runs with:
    * the shared [[graft.Sessions.confs]] policy, then the compression
    * family (so `PARQUET_COMPRESSION` overrides its codec). Source/sink
    * options are passed at their call sites. */
  def sparkConfs: Map[String, String] = graft.Sessions.confs ++ Map(
    "spark.sql.parquet.compression.codec" -> parquetCompression,
    "parquet.compression.codec.zstd.level" -> compressionLevel.toString)

  /** The `kafka.*` reader options `IngestPipeline.kafkaSource` applies to
    * `readStream.format("kafka")`. */
  def kafkaOptions: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "kafka.fetch.min.bytes" -> fetchMinBytes.toString,
    "kafka.max.partition.fetch.bytes" -> maxPartitionFetchBytes.toString)
}

object GraftConfig {

  /** Reference truthiness (`:86-88`): lowercase membership in
    * {"true","1","yes"} — anything else is false, including "TRUE "
    * with a stray space, exactly like the Python. */
  private[ingest] def truthy(s: String): Boolean =
    Set("true", "1", "yes").contains(s.toLowerCase)

  /** Parse the reference env-var table with the reference's defaults.
    * Unset = default; set-but-empty mirrors the reference: MAX_MESSAGES=""
    * is None (`int(os.getenv(..)) if os.getenv(..) else None` — empty
    * string is falsy), while an empty numeric elsewhere is an error there
    * and here. */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    def s(k: String, d: String) = env.getOrElse(k, d)
    def b(k: String, d: Boolean) = env.get(k).map(truthy).getOrElse(d)
    def l(k: String, d: Long) = env.get(k).map(_.trim.toLong).getOrElse(d)
    def i(k: String, d: Int) = env.get(k).map(_.trim.toInt).getOrElse(d)
    GraftConfig(
      bootstrapServers = s("BOOTSTRAP_SERVERS", "192.168.1.110:19092"),
      outputDir = s("OUTPUT_DIR", "./data/redpanda_parquet"),
      logDir = s("LOG_DIR", "/app/logs"),
      maxMessages = env.get("MAX_MESSAGES").filter(_.nonEmpty).map(_.trim.toLong),
      batchSize = l("BATCH_SIZE", 1000000L),
      maxWorkers = i("MAX_WORKERS", 4),
      skipExistingCheck = b("SKIP_EXISTING_CHECK", d = true),
      skipDeduplication = b("SKIP_DEDUPLICATION", d = true),
      skipValidation = b("SKIP_VALIDATION", d = false),
      kafkaCleanupEnabled = b("KAFKA_CLEANUP_ENABLED", d = false),
      kafkaContainerName = s("KAFKA_CONTAINER_NAME", "redpanda-1"),
      parquetCompression = s("PARQUET_COMPRESSION", "zstd"),
      compressionLevel = i("COMPRESSION_LEVEL", 3),
      rowGroupSize = l("ROW_GROUP_SIZE", 1000000L),
      fetchMinBytes = l("FETCH_MIN_BYTES", 10485760L),
      maxPartitionFetchBytes = l("MAX_PARTITION_FETCH_BYTES", 52428800L),
      progressUpdateInterval = l("PROGRESS_UPDATE_INTERVAL", 250000L),
      memoryBatchSize = l("MEMORY_BATCH_SIZE", 1000000L))
  }
}
