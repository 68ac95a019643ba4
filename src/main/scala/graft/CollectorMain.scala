package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{GraftConfig, JsonDecode, OffsetLedger}
import graft.streaming.IngestPipeline

/** The runnable collector — the Spark equivalent of the reference's
  * `python redpanda_to_parquet_collector.py` entry point: read
  * [[graft.ingest.GraftConfig]] from the environment, drain the source
  * once (AvailableNow), land decoded/flattened date-partitioned zstd
  * parquet, and run the post-drain count validation.
  *
  * Source selection via `GRAFT_SOURCE`:
  *  - `file` (default, and the only mode this container can run): a
  *    parquet directory at `GRAFT_SOURCE_DIR` stands in for the broker —
  *    the same downstream the reference's consumer feeds. The payload
  *    schema is SAMPLED once per run (the reference's one-shot per-topic
  *    detection `:172-220`): a Kafka-envelope source is scanned once into
  *    a persisted stride + per-(topic, partition) edge sample that both
  *    codec detection and [[JsonDecode.inferSchemaOver]] read; a props
  *    source goes through [[JsonDecode.inferSchemaSpread]]. Then the full
  *    stream decodes through codegen'd `from_json`.
  *  - `kafka`: `IngestPipeline.kafkaSource` with the config's brokers and
  *    fetch tuning; identical downstream. Needs a live broker.
  *
  * Knob wiring (see GraftConfig's scaladoc for the full table):
  * compression confs land on the session; `SKIP_VALIDATION` gates the
  * count check; `SKIP_EXISTING_CHECK=false` mines the lake's offset
  * ledger first and reports what a resume would skip;
  * `KAFKA_CLEANUP_ENABLED` is file-mode inert (documented — the KafkaTrim
  * binding needs a broker).
  *
  * After the drain, each table is counted once: the deferred audit's
  * one `groupBy(keys).count` pass gives the lake's (rows, distinct keys),
  * which validation reuses when the audit left the lake untouched, and
  * the source takes one such pass too.
  *
  * Scale notes: every stage is a narrow map or a partitioned sink —
  * the only aggregates are the bounded ledger/validation summaries; the
  * drain itself is exactly-once under the checkpoint, so re-running after
  * a crash resumes instead of duplicating (the reference needs its
  * anti-join dedup for this; with a checkpoint the lake stays clean even
  * with `SKIP_DEDUPLICATION=true`).
  */
object CollectorMain {
  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv()
    val srcMode = sys.env.getOrElse("GRAFT_SOURCE", "file")
    val srcDir = sys.env.getOrElse("GRAFT_SOURCE_DIR", "")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", cfg.maxWorkers.toString)
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    cfg.sparkConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cfg, srcMode, srcDir)
    finally spark.stop()
  }

  /** Row count and distinct-key count of a table, from ONE
    * `groupBy(keys).count` aggregation instead of a `count()` plus a
    * `distinct().count()` pass. Grouping keeps `distinct()`'s null-key
    * semantics: an all-null key is one group, where `count(DISTINCT …)`
    * would skip it and report a lake holding one null-key row as a
    * mismatch. */
  private final case class KeyStats(rows: Long, groups: Long)

  private def keyStats(df: DataFrame, keys: Seq[String]): KeyStats = {
    require(keys.nonEmpty, "keyStats needs at least one key column")
    val r = df.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count")), lit(0L)), count(lit(1))).head()
    KeyStats(r.getLong(0), r.getLong(1))
  }

  /** Deferred (post-drain) dedup: one merge pass over the landed lake,
    * keep-first by (event_id, ts), stage-and-swap preserving the date
    * partitioning — the reference's staging+merge step; at scale this is
    * one key-partitioned shuffle of the NEW drain's partitions.
    *
    * Returns the lake's [[KeyStats]] when the lake was already clean and
    * left untouched (validation reuses them instead of counting the
    * unchanged lake again), None when it was rewritten.
    *
    * Three failure postures the swap must survive:
    *  - A leftover `<dest>.old` from an earlier interrupted swap: Hadoop's
    *    `rename(dest, old)` onto an existing non-empty directory moves the
    *    lake INTO `old/lake` and returns true, after which the stale
    *    `old/_schema` would replace this lake's lineage registry and the
    *    delete of `old` would take the retained backup with it. The swap
    *    refuses before any rename, with the lake untouched.
    *  - `FileSystem.rename` reports failure by RETURNING FALSE, not by
    *    throwing — every rename result is checked, and a failed second
    *    rename rolls the original lake back before aborting, so no
    *    ordering of failures can delete the only copy of the data.
    *  - The rewrite replaces every part file, which makes the streaming
    *    file sink's `_spark_metadata` log stale BY CONSTRUCTION (it lists
    *    the old names). The drain's checkpoint survives the swap, so a
    *    later incremental drain would recreate the log holding only its
    *    own batch — and every `spark.read.parquet(lake)` thereafter
    *    resolves through the log and silently hides the pre-swap files.
    *    We therefore REBUILD the log over the rewritten files, replaying
    *    batch ids 0..latest (empty deltas + the full listing at the
    *    latest id) through Spark's own `FileStreamSinkLog`, so readers
    *    and subsequent drains both see the whole lake. */
  private def dedupLakeInPlace(spark: SparkSession, dest: String, compression: String,
                               keys: Seq[String] = Seq("event_id"),
                               tsCol: String = "ts"): Option[KeyStats] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val destPath = new Path(dest)
    val tmp = new Path(dest + ".rewrite")
    val old = new Path(dest + ".old")
    val cur = spark.read.parquet(dest)
    // skip the rewrite when the lake is already clean: the common resume
    // path then never touches the files or the sink metadata log
    val stats = keyStats(cur, keys)
    if (stats.rows == stats.groups) return Some(stats)
    if (fs.exists(old))
      throw new IllegalStateException(
        s"dedup swap refused: $old exists (left by an earlier interrupted swap); " +
          s"renaming $dest onto it would nest the lake inside it. Lake untouched; " +
          s"inspect and remove $old, then re-run")
    // capture the sink log's latest batch id BEFORE the swap moves it
    val metaDir = new Path(destPath, "_spark_metadata")
    val latestBatch: Option[Long] =
      if (fs.exists(metaDir))
        new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, metaDir.toString, None)
          .getLatestBatchId()
      else None
    graft.ingest.Dedup.dedupKeepFirst(cur, keys.map(col), col(tsCol))
      .write.mode("overwrite").option("compression", compression)
      .partitionBy("date_path").parquet(tmp.toString)
    if (!fs.rename(destPath, old))
      throw new IllegalStateException(
        s"dedup swap aborted: rename $dest -> $old returned false; " +
          s"lake untouched, rewrite left at $tmp for inspection")
    if (!fs.rename(tmp, destPath)) {
      val rolledBack = fs.rename(old, destPath)
      throw new IllegalStateException(
        s"dedup swap failed: rename $tmp -> $dest returned false; " +
          (if (rolledBack) "original lake restored"
           else s"MANUAL ACTION REQUIRED: the lake is intact at $old"))
    }
    // rebuild the sink metadata log over the rewritten files (see
    // scaladoc; shared with the inline keeper's reconciliation)
    latestBatch.foreach(id =>
      graft.sources.LakeWriter.rebuildSinkLog(spark, dest, id))
    // only discard the backup once the swapped lake is verifiably there
    if (!fs.exists(destPath))
      throw new IllegalStateException(
        s"post-swap check failed: $dest missing; backup retained at $old")
    // the swap replaced the whole directory: carry the schema-lineage
    // registry over from the pre-swap lake (the rewrite changes FILES,
    // never the payload schema history). FileSystem.rename reports
    // failure by RETURNING FALSE — checked like every other rename in
    // this swap, and ordered AFTER the sink-log rebuild so a failed
    // move aborts with the lake fully readable: deleting `old` on a
    // failed move would destroy the only copy of the lineage registry
    // and silently demote readers to the mergeSchema fallback
    val oldSchema = new Path(old, "_schema")
    if (fs.exists(oldSchema) && !fs.rename(oldSchema, new Path(destPath, "_schema")))
      throw new IllegalStateException(
        s"dedup swap: moving the schema-lineage registry $oldSchema -> " +
          s"$destPath/_schema returned false; backup retained at $old " +
          "(the swapped lake is intact and readable)")
    fs.delete(old, true)
    None
  }

  /** The landed lake's payload-bearing schema, for the never-narrowing
    * union: the schema-lineage registry when this lake has one (O(versions)
    * tiny file reads, newest version's types win), else a `mergeSchema`
    * footer pass for legacy lakes (the standard distributed footer merge,
    * once per drain), else None for a fresh dest. */
  private def landedSchema(spark: SparkSession,
                           dest: String): Option[org.apache.spark.sql.types.StructType] = {
    val lineage = graft.sources.LakeWriter.schemaLineage(spark, dest)
    if (lineage.nonEmpty)
      lineage.map(_._3).foldLeft(
          Option.empty[org.apache.spark.sql.types.StructType]) { (acc, s) =>
        Some(graft.ingest.JsonDecode.unionPayloadSchema(s, acc, Set.empty))
      }
    else {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(dest)))
        scala.util.Try(
          spark.read.option("mergeSchema", "true").parquet(dest).schema).toOption
      else None
    }
  }

  /** The whole drain as a function of (session, config, source) — the
    * main above is just env plumbing, so the spec can run the identical
    * path in-process. */
  def run(spark: SparkSession, cfg: GraftConfig, srcMode: String, srcDir: String): Unit = {
    require(srcMode == "file" || srcMode == "kafka", s"GRAFT_SOURCE=$srcMode (file|kafka)")
    require(srcMode == "kafka" || srcDir.nonEmpty, "file mode needs GRAFT_SOURCE_DIR")
    val dest = s"${cfg.outputDir}/lake"
    val checkpoint = s"${cfg.outputDir}/_checkpoint"

    if (!cfg.skipExistingCheck) {
      // lake-mined resume parity: report what a ledger-based resume would
      // start from (informational in the Spark engine — the checkpoint
      // owns resume offsets)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(dest))) {
        val lake = spark.read.parquet(dest)
        if (lake.columns.contains("kafka_partition") && lake.columns.contains("kafka_offset")) {
          val ledger = OffsetLedger.collectLedger(lake)
          println(s"[collector] existing lake: resume watermarks $ledger")
        } else
          println(s"[collector] existing lake: ${lake.count()} rows (checkpoint governs resume)")
      } else println("[collector] no existing lake")
    }

    // one source read for guard + branches (the footer/listing work is
    // not free on large sources); envelope routing needs the full
    // 5-column envelope SHAPE, not just any binary `value` column — a
    // generic source with a raw-bytes column must keep draining through
    // the props path it always used
    val srcBatch: Option[org.apache.spark.sql.DataFrame] =
      if (srcMode == "file") Some(spark.read.parquet(srcDir)) else None
    def isEnvelope(df: org.apache.spark.sql.DataFrame): Boolean = {
      val cols = df.schema.fields.map(f => f.name -> f.dataType).toMap
      // ALL FIVE envelope columns, kafka_key included: decodeEnvelope
      // selects kafka_key unconditionally, so a near-envelope source
      // carrying only the four metadata columns must fall through to the
      // props path it always used instead of crashing the drain
      cols.get("value").contains(org.apache.spark.sql.types.BinaryType) &&
        Seq("kafka_topic", "kafka_partition", "kafka_offset", "kafka_timestamp",
          "kafka_key").forall(cols.contains)
    }
    // (payload schema, the deferred audit's key stats when it left the
    // lake as it found it — the audit groups on the same keys validation
    // uses, so validation reuses them instead of counting the unchanged
    // lake again)
    val (usedPayloadSchema, audited) = srcMode match {
      case "file" if isEnvelope(srcBatch.get) =>
        // KAFKA-ENVELOPE source: binary payloads under the 5-column
        // metadata envelope (the shape IngestPipeline.kafkaSource emits —
        // this file twin exercises the broker downstream byte-for-byte).
        // Per-topic codec detection runs ONCE over a deterministic
        // bounded sample, then the payload JSON schema is inferred from
        // the SAME sample, decoded — the reference's one-shot per-topic
        // detection (:172-220) at Spark scale: bounded jobs before the
        // drain, zero per-row python-style try/except during it.
        //
        // The sample is ONE scan of the source, persisted: every row on
        // the offset stride (every 101st) or within 64 offsets of its
        // (topic, partition)'s head or tail, tagged with which side(s) it
        // is on. A message on both sides is one sample row (codec
        // detection counts it once). Both consumers read the persisted
        // rows, never the source again.
        //
        // Coverage is GUARANTEED per (topic, partition): the stride alone
        // misses topics whose live offset range contains no multiple of
        // 101 — e.g. a retention-trimmed topic holding offsets
        // 10050-10099 — which would mis-classify msgpack topics as JSON
        // (full degrade to raw_value) and, on an empty global sample,
        // crash the decode. 64 rows per edge, not 1: a single-row sample
        // under-types the payload (msgpack renders the integral double
        // 0.0 as "0", so a lone head row would infer a fractional field
        // as long and every fractional row after it would degrade to
        // raw_value). Heads serve trimmed topics; tails see the NEWEST
        // rows, where an evolved payload's new field first appears — a
        // small incremental append can sit entirely between stride
        // multiples. The offset bounds are one column-pruned
        // map-side-combined aggregation, collected (O(topic-partitions)
        // rows) so the sample plan joins a local relation instead of
        // re-running the aggregate.
        val batch = srcBatch.get
        val tp = Seq("kafka_topic", "kafka_partition")
        val boundsAgg = batch.groupBy(tp.map(col): _*)
          .agg(min(col("kafka_offset")).as("_min_off"),
            max(col("kafka_offset")).as("_max_off"))
        val bounds = spark.createDataFrame(
          java.util.Arrays.asList(boundsAgg.collect(): _*), boundsAgg.schema)
        val sample = batch.join(broadcast(bounds), tp, "left")
          .select(col("kafka_topic"), col("value"),
            (pmod(col("kafka_offset"), lit(101L)) === 0).as("_stride"),
            (col("kafka_offset") < col("_min_off") + 64 ||
              col("kafka_offset") > col("_max_off") - 64).as("_edge"))
          .where(col("_stride") || col("_edge"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (formats, inferred) = try {
          // codec detection sees the whole sample (one distributed
          // aggregation; more evidence never hurts it) and materializes
          // the persisted rows
          val formats = IngestPipeline.detectTopicFormats(sample)
          println(s"[collector] detected topic formats: $formats")
          // Inference bounds the STRIDE side BEFORE the union (the
          // inferSchemaSpread shape): a post-union limit fills from the
          // union's first partitions — the stride — so on sources with
          // ≥1000 stride hits the per-(topic, partition) head/tail rows
          // would be starved out and a field first appearing in a recent
          // high-offset append silently dropped forever. The edge side is
          // already bounded by the topic-partition count. The limit
          // applies to DECODED non-null payload texts, not raw envelope
          // rows: a topic whose stride is mostly undecodable binary would
          // otherwise spend the whole budget on rows inference's na.drop
          // discards, shrinking the effective sample to the edges.
          val strideTexts = IngestPipeline.envelopeJsonText(
            sample.where(col("_stride")), formats).na.drop.limit(1000)
          val edgeTexts = IngestPipeline.envelopeJsonText(
            sample.where(col("_edge")), formats)
          (formats, JsonDecode.inferSchemaOver(spark,
            strideTexts.unionByName(edgeTexts), "_json"))
        } finally sample.unpersist()
        // never-narrowing across incremental drains: widen this run's
        // inferred schema with every payload field the lake already
        // landed (the envelope/derived columns are not payload)
        val payloadSchema = JsonDecode.unionPayloadSchema(inferred,
          landedSchema(spark, dest),
          batch.columns.toSet ++ Seq("date_path", "raw_value"))
        // the reference's dedup key for broker streams is the message
        // identity itself — offsets scoped per topic AND partition
        // (`:468-530`, `:741-748`; a bare (partition, offset) pair
        // collides across topics); same WHEN-not-IF contract as the
        // events path below: false = inline keeper during the drain,
        // true = one deferred merge pass
        val envKeys = Seq("kafka_topic", "kafka_partition", "kafka_offset")
        if (!cfg.skipDeduplication) {
          IngestPipeline.runFileIngestKeeper(spark, srcDir, batch.schema,
            payloadSchema, dest, checkpoint,
            compression = cfg.parquetCompression,
            keys = envKeys, tsCol = "kafka_timestamp",
            decode = Some(IngestPipeline.decodeEnvelope(_, formats, payloadSchema)))
          (payloadSchema, None)
        } else {
          IngestPipeline.runFileIngest(spark, srcDir, batch.schema, payloadSchema,
            dest, checkpoint, compression = cfg.parquetCompression,
            decode = Some(IngestPipeline.decodeEnvelope(_, formats, payloadSchema)))
          (payloadSchema, dedupLakeInPlace(spark, dest, cfg.parquetCompression,
            envKeys, "kafka_timestamp"))
        }
      case "file" =>
        val batch = srcBatch.get
        // spread-sampled (a head-only sample misses fields that first
        // appear in later-appended files) and never-narrowing vs the lake
        val payloadSchema = JsonDecode.unionPayloadSchema(
          JsonDecode.inferSchemaSpread(spark, batch, "props"),
          landedSchema(spark, dest),
          batch.columns.toSet ++ Seq("date_path", "raw_value"))
        val hasEventId = batch.columns.contains("event_id")
        // SKIP_DEDUPLICATION is WHEN dedup happens, not IF (the
        // reference's `:87` semantics): false = inline during the drain,
        // true = deferred to one post-drain merge pass — either way the
        // lake never carries duplicate event_ids. KEEPER CONTRACT:
        // inline mode now applies the SAME min-ts keeper as the
        // deferred rewrite WITHIN each micro-batch
        // (IngestPipeline.runFileIngestKeeper — dedupKeepFirst per
        // batch + a persisted id-bloom guard whose misses skip the lake
        // entirely and whose hits pay one column-pruned anti-join), so
        // the two modes pick identical representatives for every
        // within-batch duplicate (CollectorMainSpec pins the equality)
        // and inline mode stays O(batch) per trigger even on a
        // forever-running stream. The residual
        // divergence is cross-batch only: an append-only sink cannot
        // retract a landed row when a smaller-ts duplicate arrives in a
        // LATER batch, while deferred re-arbitrates globally. For
        // broker redelivery (byte-identical duplicates, the reference's
        // actual failure mode) the modes are indistinguishable; when
        // producers may re-stamp retries ACROSS batches, run deferred
        // mode — it remains the keeper authority.
        if (hasEventId && !cfg.skipDeduplication) {
          IngestPipeline.runFileIngestKeeper(spark, srcDir, batch.schema,
            payloadSchema, dest, checkpoint,
            compression = cfg.parquetCompression, keys = Seq("event_id"))
          (payloadSchema, None)
        } else {
          // the writer option overrides the session conf, so the knob
          // must reach the sink explicitly — a session conf alone is
          // ignored
          IngestPipeline.runFileIngest(spark, srcDir, batch.schema, payloadSchema,
            dest, checkpoint, compression = cfg.parquetCompression)
          (payloadSchema,
            if (hasEventId && cfg.skipDeduplication)
              dedupLakeInPlace(spark, dest, cfg.parquetCompression)
            else None)
        }
      case "kafka" =>
        // the source swap is IngestPipeline.kafkaSource(cfg.bootstrapServers,
        // GRAFT_TOPICS) with value.cast("string") as the payload column;
        // downstream (decode → flatten → partitioned sink) is identical —
        // KafkaIntegrationSpec carries the live-broker recipe
        throw new IllegalStateException(
          "kafka mode needs a live broker — this environment runs file mode")
    }

    // schema lineage: record this drain's payload schema (idempotent per
    // hash — the reference's md5 version-on-change, `:414-432, :435-465`);
    // lineage > 1 tells readers the lake spans schema versions and a
    // mergeSchema read reconciles them
    val schemaV = graft.sources.LakeWriter.recordSchemaVersion(
      spark, dest, usedPayloadSchema)
    val lineage = graft.sources.LakeWriter.schemaLineage(spark, dest)
    println(s"[collector] payload schema v$schemaV " +
      s"(${graft.sources.LakeWriter.schemaHash(usedPayloadSchema)}); " +
      s"lineage: ${lineage.map(e => s"v${e._1}_${e._2}").mkString(", ")}" +
      (if (lineage.size > 1) " — read the lake with mergeSchema=true" else ""))

    if (!cfg.skipValidation) {
      // the reference's post-run count validation (`q_count_validation`
      // shape): landed rows vs source rows, plus duplicate detection on
      // the event key when present
      // the source frame read before the drain (the file listing the
      // drain consumed); the lake is read only when the deferred audit's
      // stats do not already describe it — the audit leaves a clean lake
      // untouched, so its counts are the lake's counts
      val src = srcBatch.getOrElse(spark.read.parquet(srcDir))
      lazy val landed = spark.read.parquet(dest)
      // dedup runs in BOTH modes (inline or deferred), so the lake must
      // hold exactly the source's DISTINCT events and zero duplicate keys
      // — keyed on the message identity for Kafka-envelope SOURCES
      // (checked first: an envelope payload may itself carry an event_id
      // field, which lands hoisted in the lake but does not exist as a
      // source column), on event_id for payload-keyed sources (an
      // audited lake was grouped on event_id, so it has the column)
      val keyCols: Seq[String] =
        if (srcBatch.exists(isEnvelope))
          Seq("kafka_topic", "kafka_partition", "kafka_offset")
        else if (src.columns.contains("event_id") &&
            (audited.nonEmpty || landed.columns.contains("event_id"))) Seq("event_id")
        else Nil
      val (landedStats, srcStats) =
        if (keyCols.isEmpty) {
          val (l, s) = (landed.count(), src.count())
          (KeyStats(l, l), KeyStats(s, s))
        } else
          (audited.getOrElse(keyStats(landed, keyCols)), keyStats(src, keyCols))
      val nLanded = landedStats.rows
      val nSrc = srcStats.rows
      val expected = srcStats.groups
      val dup = nLanded - landedStats.groups
      val status = if (nLanded == expected && dup == 0L) "OK" else "MISMATCH"
      println(s"[collector] validation: landed=$nLanded expected=$expected " +
        s"source_rows=$nSrc duplicates=$dup $status")
      if (status != "OK")
        throw new IllegalStateException(
          s"count validation failed: landed=$nLanded expected=$expected (dup=$dup)")
    }
  }
}
