package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ingest.GraftConfig

/** Structured-Streaming ingest: the idiomatic replacement for the
  * reference's run-to-completion Kafka drain (SURVEY §2.8).
  *
  * The reference keeps NO consumer-group state — progress is mined from the
  * lake and duplicates dropped by anti-join (`:468-530`, `:741-748`). In
  * Spark the same run-once-until-caught-up contract is
  * `Trigger.AvailableNow` + a checkpoint: offsets live in the checkpoint,
  * the file sink is exactly-once, and a crashed run resumes where it
  * stopped, so the drain needs no lake-mined offset ledger.
  *
  * Source here is a file stream over the testdata shape (no broker in the
  * container). [[kafkaSource]] builds the broker read with the config's
  * fetch tuning ([[GraftConfig.kafkaOptions]], defaulting to the
  * reference's collector `:332-337` values) and emits the same 5-column
  * envelope the file source carries, but no drain reads it:
  * `CollectorMain.run` throws for kafka mode, so the file-source drains
  * below are the only ones that run.
  */
object IngestPipeline {

  /** Kafka source with the config's brokers and consumer tuning
    * ([[GraftConfig.kafkaOptions]]: `BOOTSTRAP_SERVERS`, `FETCH_MIN_BYTES`,
    * `MAX_PARTITION_FETCH_BYTES`, defaulting to the reference's collector
    * `:332-337` 10MB min fetch / 50MB per partition) and the 5-column
    * metadata envelope the collector emits (`:388-399`). `.format("kafka")`
    * is a runtime string lookup, so this compiles with NO connector on the
    * classpath; actually running it needs the `spark-sql-kafka-0-10`
    * connector jars (not present in the Spark distribution's jars) AND a
    * live broker. No drain is wired to it (`CollectorMain.run` throws for
    * kafka mode); KafkaIntegrationSpec reads it against a live broker. */
  def kafkaSource(spark: SparkSession, cfg: GraftConfig, topics: String,
                  startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .options(cfg.kafkaOptions)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(
        col("topic").as("kafka_topic"),
        col("partition").cast("long").as("kafka_partition"),
        col("offset").as("kafka_offset"),
        col("timestamp").as("kafka_timestamp"),
        col("key").cast("string").as("kafka_key"),
        col("value"))

  /** File-source → decode → date-partitioned parquet sink, run-once.
    * Blocks until caught up (AvailableNow), then returns. The drain
    * itself does not dedup: the collector runs this in deferred mode,
    * with one merge pass over the lake after the drain. */
  def runFileIngest(spark: SparkSession, srcDir: String, schema: StructType,
                    payloadSchema: StructType, dest: String, checkpoint: String,
                    compression: String = "zstd",
                    decode: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    // MIXED-MODE GUARD: a FileStreamSink resolves reads through its
    // `_spark_metadata` log, so data files the log does not list (the
    // inline keeper's plain appends, or any foreign writer's) are
    // silently invisible to every spark.read — the same corruption class
    // the deferred-dedup swap rebuild closes. When the checkpoint has
    // committed batches (same-checkpoint resume after keeper-mode
    // drains), rebuild the log over the full listing at the last
    // committed id — the sink then resumes at the next id and never
    // skips a real batch. A FRESH checkpoint over un-logged files has no
    // safe anchor id (a seeded log would make the sink skip its first
    // batches as "already committed") → fail loudly.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val dataFiles = graft.sources.LakeWriter.listDataFiles(fs, destPath)
    val ckptLatest = latestCommittedBatch(fs, checkpoint)
    val ckptStarted = latestStartedBatch(fs, checkpoint)
    // ONE WRITER PER LAKE, deferred-mode edition (the keeper's `_writer`
    // stamp, enforced here too): the crash-window relaxation below
    // admits a log exactly one batch ahead of the commits — but a
    // FOREIGN non-fresh checkpoint whose own in-flight batch id happens
    // to coincide with the log's latest would slip through it and have
    // its replayed batch silently swallowed by the sink. The stamp
    // (this checkpoint's persistent query id) makes lake ownership
    // explicit across BOTH drain modes; legacy unstamped lakes are
    // adopted (stamped after this drain completes).
    val writerFile = new org.apache.hadoop.fs.Path(s"$dest/_batches/_writer")
    val queryId = checkpointQueryId(fs, checkpoint)
    queryId.foreach { id =>
      if (fs.exists(writerFile)) {
        val existing = IdBloom.readSmall(fs, writerFile).trim
        if (existing != id) throw new IllegalStateException(
          s"lake $dest belongs to stream '$existing' but checkpoint $checkpoint " +
            s"is stream '$id' — a foreign checkpoint's batch ids collide with " +
            "this lake's sink log and marker ledger; resume with the owning " +
            "checkpoint or start a fresh dest")
      }
    }
    if (dataFiles.nonEmpty) {
      import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
      val metaDir = new org.apache.hadoop.fs.Path(destPath, "_spark_metadata")
      val log =
        if (fs.exists(metaDir))
          Some(new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, metaDir.toString, None))
        else None
      // FOREIGN-LOG / RESET-CHECKPOINT GUARD (checked FIRST): the
      // FileStreamSink silently skips every batch id ≤ the log's latest
      // as "already committed" — so a log whose latest id is AHEAD of
      // this checkpoint's commits (a fresh checkpoint over any logged
      // lake, or a resume after another checkpoint's keeper drain
      // advanced the log) would swallow this drain's first real batches
      // while the checkpoint commits them: silent data loss, refuse.
      // This is the deferred path's analog of the keeper's _writer stamp.
      val logLatest = log.flatMap(_.getLatestBatchId())
      // The sink's NORMAL crash window: the log legitimately runs EXACTLY
      // ONE batch ahead of the commits when the crash fell between the
      // sink's log write and the checkpoint commit — provided this
      // checkpoint actually STARTED that batch (its offsets entry is
      // written before the batch executes). Same-checkpoint recovery
      // replays the batch and the sink skips the already-logged id.
      // Any further lead, or a batch this checkpoint never started, is a
      // foreign/reset checkpoint whose first real batches the sink would
      // swallow as "already committed" — refuse those, not the window.
      logLatest.foreach { ll =>
        val committed = ckptLatest.getOrElse(-1L)
        val started = ckptStarted.getOrElse(-1L)
        if (ll > committed + 1 || ll > started) throw new IllegalStateException(
          s"$dest carries a sink log at batch $ll but checkpoint $checkpoint has " +
            s"only committed ${ckptLatest.fold("no batches")(k => s"batch $k")} and " +
            s"started ${if (started < 0) "none" else s"batch $started"} — beyond the " +
            "sink's one-batch crash window, so the FileStreamSink would silently " +
            "skip this drain's first batches as 'already committed'. Resume with " +
            "the checkpoint that owns the log, or start a fresh dest.")
      }
      // compare scheme-less path parts: the sink records fully-qualified
      // URIs whose scheme/authority spelling can differ from a fresh
      // listStatus of the same filesystem
      val logged = log.map(_.allFiles()
        .map(s => new org.apache.hadoop.fs.Path(s.path).toUri.getPath).toSet)
        .getOrElse(Set.empty[String])
      val unlogged = dataFiles.filterNot(st => logged.contains(st.getPath.toUri.getPath))
      if (unlogged.nonEmpty) {
        // IN-FLIGHT-BATCH AMBIGUITY: when this checkpoint STARTED a batch
        // it never committed AND the log does not contain that batch,
        // some unlogged files may be the crashed batch's own sink output
        // (FileStreamSink tasks write data files before the job writes
        // the log entry) — indistinguishable by name from keeper appends.
        // Rebuilding would LOG those orphans, and recovery's replay of
        // the batch would then write the same rows again: duplicates in
        // an exactly-once pipeline. Refuse; the inline keeper drain is
        // the safe recovery (its marker-ledger replay adopts landed rows
        // exactly-once and reconciles the log at end of drain).
        // When the log DOES contain the in-flight batch (the crash-window
        // case below), its files are all logged, so unlogged files are
        // keeper/foreign work and the rebuild is unambiguous.
        val started = ckptStarted.getOrElse(-1L)
        val committed = ckptLatest.getOrElse(-1L)
        if (started > committed && logLatest.getOrElse(-1L) <= committed)
          throw new IllegalStateException(
            s"$dest holds ${unlogged.size} un-logged data files while checkpoint " +
              s"$checkpoint has an in-flight batch $started (committed " +
              s"${if (committed < 0) "none" else committed.toString}) whose sink " +
              "output may be among them — logging a crashed batch's orphan files " +
              "would duplicate its rows on replay. Drain once with the inline " +
              "keeper (runFileIngestKeeper), which replays the in-flight batch " +
              "exactly-once and reconciles the sink log, then resume deferred mode.")
        // anchor at max(commits, log latest): logLatest ≤ ckptLatest + 1
        // (guarded above), and when the log runs one batch AHEAD (the
        // sink's crash window) anchoring below it would drop that batch's
        // log entry — recovery would then re-append its already-landed
        // files as a "new" batch: duplicates. Anchoring AT it keeps the
        // replay a skip, and its files are in the full listing anyway.
        val anchor = math.max(ckptLatest.getOrElse(-1L), logLatest.getOrElse(-1L))
        if (anchor >= 0) graft.sources.LakeWriter.rebuildSinkLog(spark, dest, anchor)
        else throw new IllegalStateException(
          s"$dest holds ${unlogged.size} data files its streaming sink log does not list " +
            "(inline-keeper appends or a foreign writer) and the checkpoint has no " +
            "committed batches to anchor a rebuild — a fresh FileStreamSink drain would " +
            "hide those files behind a log listing only its own batches. Re-run inline " +
            "keeper mode, pick a fresh dest, or rebuild the log " +
            "(LakeWriter.rebuildSinkLog) first.")
      }
    }
    // deferred appends bypass the keeper's id-bloom: a guard missing this
    // drain's keys would treat their redeliveries as definitely-new and
    // admit duplicates, so invalidate it up front — bloom ABSENCE is
    // always safe (the next keeper drain re-adopts the lake exactly), a
    // stale bloom never is
    IdBloom.invalidate(fs, dest)
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val decoded = decode.getOrElse(decodeAndDatePartition(_: DataFrame, payloadSchema))(stream)
    val q = decoded.writeStream
      .format("parquet")
      .option("path", dest)
      .option("checkpointLocation", checkpoint)
      .option("compression", compression)
      .partitionBy("date_path")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // claim/adopt the lake for this checkpoint's stream (the query id
    // exists once the stream has started) — the keeper writes the same
    // stamp per batch, so mixed-mode drains on one checkpoint agree
    if (!fs.exists(writerFile)) checkpointQueryId(fs, checkpoint).foreach { id =>
      IdBloom.atomicWrite(fs, writerFile,
        id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    q
  }

  /** Test seam: invoked between [[keeperBatch]]'s protocol steps with
    * (dest, step) where step ∈ started / appended / gen-written /
    * sizing-written / pruned. Crash-point specs install a hook that
    * throws at a chosen (dest, step) to reconstruct every real crash
    * window; the dest key isolates concurrently-running suites. No-op
    * in production (never reassigned outside tests). */
  @volatile private[graft] var keeperStepHook: (String, String) => Unit = (_, _) => ()

  /** Keeper bloom growth clamp — see the rebuild comment in
    * [[keeperBatch]]. Set in the plan-literal era (a literal bloom
    * hex-rendered in full into every explain string would OOM the
    * driver on plan rendering); the probe now ships as a broadcast
    * variable, but 2^24 items ≈ 30 MB stays the clamp: each capacity
    * doubling pays a full column-pruned lake scan and each generation a
    * per-executor torrent push, and past saturation the guard degrades
    * into exact confirms, never incorrectness — lakes beyond ~16M keys
    * should drain in deferred mode, whose one post-drain merge pass
    * holds no per-key state. */
  private val keeperMaxBloomItems: Long = 1L << 24

  /** Last batch id with a commit marker under the checkpoint (the
    * authoritative "this batch fully landed" record for both sink
    * flavors), or None on a fresh/foreign checkpoint. */
  private def latestCommittedBatch(fs: org.apache.hadoop.fs.FileSystem,
                                   checkpoint: String): Option[Long] =
    latestLedgerEntry(fs, s"$checkpoint/commits")

  /** Last batch id with an OFFSETS entry under the checkpoint — written
    * BEFORE the batch executes, so it bounds every batch id this
    * checkpoint can ever have handed to a sink; a sink-log id above it
    * cannot be this checkpoint's work. */
  private def latestStartedBatch(fs: org.apache.hadoop.fs.FileSystem,
                                 checkpoint: String): Option[Long] =
    latestLedgerEntry(fs, s"$checkpoint/offsets")

  private def latestLedgerEntry(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .reduceOption(_ max _)
  }

  /** Shared decode (the payload's top level as columns) + date partition
    * column (dash format: a slashed partition VALUE percent-escapes in the
    * directory name — see LakeWriter.withDatePath's rationale).
    *
    * Decode runs through [[graft.ingest.JsonDecode.parseWithDegrade]] —
    * the SAME corrupt-record body as [[decodeEnvelope]] and
    * `JsonDecode.decode` — so a malformed props row lands with its raw
    * text in `raw_value` and a null payload struct (collector
    * `:240-241`) instead of losing its only copy to the `drop("props")`
    * below. An empty payload schema likewise degrades every row instead
    * of crashing. */
  private def decodeAndDatePartition(stream: DataFrame,
                                     payloadSchema: StructType): DataFrame = {
    val fields = payloadSchema.fields.filterNot(_.name == "_corrupt_record")
    val parsed = graft.ingest.JsonDecode.parseWithDegrade(
      stream, col("props").cast("string"), "data", payloadSchema)
    graft.sources.LakeWriter.withDatePath(
      (if (fields.isEmpty) parsed else parsed.select(col("*"), col("data.*")))
        .drop("data", "props"))
  }

  /** Per-topic codec flag: true on the rows of the topics detected as
    * msgpack, false on JSON topics and on topics absent from the map. The
    * map is a plan literal (topic count is small), so the branch folds
    * into the scan's codegen stage — no join, no UDF. */
  private def msgpackTopic(formats: Map[String, String]): org.apache.spark.sql.Column =
    coalesce(element_at(typedLit(formats), col("kafka_topic")), lit("json")) === "msgpack"

  /** Kafka-envelope decode (collector `:324-411`): binary `value` under
    * the 5-column metadata envelope — the shape [[kafkaSource]] would
    * emit, and the file source the collector drains carries — decoded per
    * the topic's detected codec, its top level expanded, and
    * date-partitioned off the BROKER timestamp (`:863-867` — the envelope
    * has no payload `ts` contract). Each payload goes from its bytes
    * straight into the payload struct ([[graft.ingest.PayloadDecoder]]);
    * only the rows that kernel does not mirror are rendered as JSON text
    * and parsed by `from_json`. Undecodable payloads degrade to
    * `raw_value` with a NULL payload struct (`:240-241, 256, 400-402`):
    * msgpack garbage keeps its raw bytes read as UTF-8, JSON garbage its
    * text — either way the row SURVIVES with its metadata, it is never
    * dropped. The degrade branch itself is
    * [[graft.ingest.JsonDecode.parseWithDegrade]] — the SAME body
    * [[graft.ingest.JsonDecode.decode]] and the props drain run on, so
    * the contract cannot drift between them. An EMPTY inferred payload
    * schema (first drain of a topic where nothing decodes as JSON)
    * degrades every row to raw_value instead of crashing the drain, and
    * this select skips the (nonexistent) payload columns. */
  def decodeEnvelope(stream: DataFrame, formats: Map[String, String],
                     payloadSchema: StructType): DataFrame = {
    val payloadFields =
      payloadSchema.fields.filterNot(_.name == "_corrupt_record")
    val parsed = graft.ingest.JsonDecode.parseWithDegrade(
      stream, col("value"), "data", payloadSchema, msgpack = msgpackTopic(formats))
    val metaAndRaw = Seq(col("kafka_topic"), col("kafka_partition"),
      col("kafka_offset"), col("kafka_timestamp"), col("kafka_key"), col("raw_value"))
    graft.sources.LakeWriter.withDatePath(
      parsed.select(metaAndRaw ++ (if (payloadFields.isEmpty) Nil else Seq(col("data.*"))): _*),
      "kafka_timestamp")
  }

  /** File-drain ingest with the DEFERRED KEEPER AUTHORITY applied
    * inline: each micro-batch is reduced to its min-`tsCol` row per key
    * ([[graft.ingest.Dedup.dedupKeepFirst]] — byte-identical to the
    * post-drain rewrite's choice), guarded by a persisted first-write-
    * wins id bloom, and appended as plain partitioned parquet.
    *
    * Why not streaming `dropDuplicates` + the exactly-once file sink
    * ([[runFileIngest]]): streaming `dropDuplicates`
    * keeps an ARBITRARY first-seen row within a batch, and the min-ts
    * choice cannot be expressed upstream of an append-mode sink (a
    * `min_by` aggregation would hold back every group until the
    * watermark passes it — on a run-once drain the tail would never
    * land). So this variant trades the FileStreamSink's metadata log
    * for foreachBatch + the [[IdBloom]] guard.
    *
    * SCALE SHAPE ([[IdBloom]]): the lake keeps a generation'd bloom over
    * `xxhash64(keys)` under `<dest>/_idbloom`. A bloom MISS is
    * definitely-new and skips every lake read — the normal all-new
    * batch touches NO lake-proportional state, so a forever-running
    * stream stays O(batch) per trigger, not O(lake). Only bloom hits
    * (true redeliveries + the fpp sliver) pay one column-pruned exact
    * anti-join against the landed keys. Capacity rides the `_sizing`
    * ledger with the 4× half-full rebuild.
    *
    * IDEMPOTENCE is batchId-keyed through a `_batches` marker ledger
    * (done marker → replay no-ops; started-without-done → crash replay
    * runs the EXACT anti-join against landed keys, read with the batch's
    * own decoded schema so a dest holding only uncommitted `_temporary`
    * litter can never wedge the drain on schema inference), and a
    * `_writer` stamp makes a reset/foreign checkpoint fail loudly
    * instead of silently no-opping against stale done markers.
    *
    * MIXED-MODE: keeper appends land OUTSIDE any FileStreamSink
    * `_spark_metadata` log a previous deferred drain created — readers
    * resolving through the log would silently miss them, so after the
    * drain the log (when present) is REBUILT over the full listing
    * ([[graft.sources.LakeWriter.rebuildSinkLog]]); symmetrically,
    * [[runFileIngest]] refuses/rebuilds over keeper-written files.
    *
    * KEEPER CONTRACT vs the deferred pass: identical WITHIN a batch
    * (both pick min-ts); across batches an append-only sink cannot
    * retract, so an earlier-batch row shadows a later smaller-ts
    * duplicate — divergence is confined to cross-batch re-stamped
    * retries (CollectorMainSpec pins the within-batch equality). */
  def runFileIngestKeeper(spark: SparkSession, srcDir: String, schema: StructType,
                          payloadSchema: StructType, dest: String, checkpoint: String,
                          compression: String = "zstd",
                          keys: Seq[String] = Seq("event_id"),
                          tsCol: String = "ts",
                          bloomItems: Long = 1L << 22,
                          bloomFpp: Double = 0.001,
                          decode: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(s"$dest/_spark_metadata")
    val hadSinkLog = fs.exists(metaDir)
    @volatile var processed = false
    val raw = spark.readStream.schema(schema).parquet(srcDir)
    val q = raw.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processed |= keeperBatch(spark, batch, batchId, payloadSchema, dest,
          checkpoint, compression, keys, tsCol, bloomItems, bloomFpp, decode)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // `processed` excludes done-marker no-op replays but INCLUDES crash
    // replays and ran-but-appended-nothing batches — a crashed previous
    // drain's missing rebuild is therefore retried here, while an idle
    // drain (no new source files) skips the O(lake-listing) rebuild
    if (hadSinkLog && processed) {
      // inline-after-deferred: reconcile the pre-existing sink log with
      // the keeper's appends so every reader (and a later deferred
      // drain) sees the whole lake. Anchor at max(log latest, checkpoint
      // latest) so a resumed FileStreamSink never collides with a
      // rebuilt id. A crash before this rebuild leaves the stale log
      // one more drain (the next keeper run rebuilds it) — within the
      // same exposure window the deferred swap already carries.
      val logLatest = new FileStreamSinkLog(
        FileStreamSinkLog.VERSION, spark, metaDir.toString, None)
        .getLatestBatchId().getOrElse(0L)
      val anchor = math.max(logLatest, latestCommittedBatch(fs, checkpoint).getOrElse(0L))
      graft.sources.LakeWriter.rebuildSinkLog(spark, dest, anchor)
    }
    q
  }

  /** One keeper micro-batch — see [[runFileIngestKeeper]]'s contract.
    * Package-visible for deterministic crash-state replay in specs.
    * Returns true when the batch was PROCESSED (false only on the
    * done-marker no-op replay) — the drain wrapper uses it to decide
    * whether a sink-log rebuild is owed. */
  private[graft] def keeperBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                          payloadSchema: StructType, dest: String, checkpoint: String,
                          compression: String, keys: Seq[String], tsCol: String,
                          bloomItems: Long, bloomFpp: Double,
                          decode: Option[DataFrame => DataFrame] = None): Boolean = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // one writer per lake: batchIds are only unique per checkpoint, so a
    // reset/foreign checkpoint restarting at 0 would silently no-op
    // against the old done markers — fail loudly instead
    val writerFile = new Path(s"$dest/_batches/_writer")
    checkpointQueryId(fs, checkpoint).foreach { id =>
      if (fs.exists(writerFile)) {
        val existing = IdBloom.readSmall(fs, writerFile).trim
        if (existing != id) throw new IllegalStateException(
          s"lake $dest belongs to stream '$existing' but batch $batchId came from " +
            s"stream '$id' — a reset/foreign checkpoint restarts batchIds and its " +
            "batches would silently collide with this lake's marker ledger")
      } else IdBloom.atomicWrite(fs, writerFile,
        id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val started = new Path(s"$dest/_batches/$batchId.started")
    val done = new Path(s"$dest/_batches/$batchId.done")
    if (fs.exists(done)) return false // fully landed — replay is a no-op
    val crashReplay = fs.exists(started)
    if (!crashReplay) {
      val out = fs.create(started, true)
      try out.hsync() catch { case _: UnsupportedOperationException => () }
      out.close()
    }
    keeperStepHook(dest, "started")

    val decoded = decode.getOrElse(decodeAndDatePartition(_: DataFrame, payloadSchema))(batch)
    // persisted: the guard probes it (hits split), the checkpoint
    // materializes it, and a crash replay builds its bloom from it —
    // without the persist each job re-runs the decode + dedup window
    val keep = graft.ingest.Dedup.dedupKeepFirst(decoded, keys.map(col), col(tsCol))
      .persist()
    val keySchema = StructType(keep.schema.fields.filter(f => keys.contains(f.name)))
    // keys must live in the DATA files: lake reads below go through the
    // explicit leaf-file listing, which never synthesizes the partition
    // column's directory-encoded values
    require(!keys.contains("date_path"),
      "the keeper cannot key on the partition column date_path")
    // Landed-key reads go through the EXPLICIT data-file listing, never
    // the directory path, for two reasons: (1) MIXED MODE — a lake a
    // previous deferred drain wrote carries a FileStreamSink
    // `_spark_metadata` log, and a directory read resolves THROUGH it,
    // so this drain's own just-appended (still-unlogged) files would be
    // invisible to the bloom build, the sizing count, and batch N's
    // anti-join in a multi-batch drain — later redeliveries of those
    // keys would bloom-MISS and land as silent duplicates (the log is
    // only reconciled once, at end of drain). (2) A crashed first append
    // leaves dest with nothing but `_temporary` litter, where bare
    // fs.exists + schema inference used to wedge the drain forever —
    // the known schema + committed-files-only listing sidesteps both.
    def lakeDf(): Option[DataFrame] = {
      val files = graft.sources.LakeWriter.listDataFiles(fs, new Path(dest))
      if (files.isEmpty) None
      else Some(spark.read.schema(keySchema).parquet(files.map(_.getPath.toString): _*))
    }
    def landedKeys: Option[DataFrame] = lakeDf().map(_.select(keys.map(col): _*))
    val kh = xxhash64(keys.map(col): _*)
    val sizing = IdBloom.readSizing(fs, dest)
      .getOrElse(IdBloom.Sizing(bloomItems, bloomFpp, 0L))
    // cached broadcast handle: an unchanged guard generation is already
    // resident in every executor's block manager from the previous batch;
    // `.value` doubles as the read-only driver view for the sizing/merge
    // logic below (mergeOrRebuild merges INTO the fresh side, never prev)
    val prevBloomBc = IdBloom.genBroadcast(fs, dest)
    val prevBloom = prevBloomBc.map(_.value)
    val novel0 =
      if (crashReplay)
        // partial appends possible — every landed key must be excluded
        // exactly, so the replay pays the full column-pruned anti-join
        landedKeys.map(lk => keep.join(lk, keys, "left_anti")).getOrElse(keep)
      else prevBloomBc match {
        case Some(bc) =>
          val mc = IdBloom.probe(bc, kh)
          val hits = keep.filter(mc)
          if (hits.isEmpty) keep // all-new batch: zero lake reads
          else landedKeys match {
            case Some(lk) =>
              keep.filter(!mc).unionByName(hits.join(lk, keys, "left_anti"))
            case None => keep // bloom without data files: nothing landed
          }
        case None =>
          // pre-bloom lake (or fresh): exact anti-join this once; the
          // guard update below adopts the FULL lake so misses stay sound
          landedKeys.map(lk => keep.join(lk, keys, "left_anti")).getOrElse(keep)
      }
    // the append below changes dest, and novel's lineage may read dest
    // (anti-join) — recacheByPath would silently recompute it against
    // the post-append lake, so sever the lineage first
    val novel = novel0.localCheckpoint(true)
    try {
      val nNovel = novel.count()
      if (nNovel > 0)
        novel.write.mode("append").option("compression", compression)
          .partitionBy("date_path").parquet(dest)
      keeperStepHook(dest, "appended")
      // guard update AFTER the append, BEFORE the done marker: a crash
      // in between replays the batch through the exact anti-join (no-op
      // appends) and rewrites the generation. The bloom is one monolith
      // (hashed keys carry no range locality to shard on): 4× growth only.
      val lakeIds = () => lakeDf().getOrElse(throw new IllegalStateException(
          s"$dest has no data files but the guard update expected landed keys"))
        .select(kh.as("_kh"))
      if (prevBloom.isEmpty) {
        // first build / legacy-lake adoption: size off the exact landed
        // count (keys are unique in the lake by construction), clamped
        // like the rebuild below
        val cnt = landedKeys.map(_.count()).getOrElse(0L)
        if (cnt > 0) {
          val items = math.min(
            math.max(sizing.items, if (cnt * 2 >= sizing.items) 4L * cnt else 0L),
            math.max(keeperMaxBloomItems, sizing.items))
          val bf = lakeIds().stat.bloomFilter("_kh", items, sizing.fpp)
          IdBloom.writeGen(fs, dest, batchId, bf)
          keeperStepHook(dest, "gen-written")
          IdBloom.writeSizing(fs, dest, IdBloom.Sizing(items, sizing.fpp, cnt))
          // hooks fire only when the step actually WROTE something, so a
          // scheduled kill always reconstructs the crash window it names
          keeperStepHook(dest, "sizing-written")
        }
      } else {
        // On a CRASH REPLAY the anti-join can be a no-op (the crashed
        // attempt landed everything before the generation write) — so
        // the merge input is the WHOLE batch's keys, not just the novel
        // ones (a key dropped as a redelivery is in the lake already;
        // re-adding it to the bloom is harmless, while skipping a
        // landed-but-unbloomed key would leave it invisible to every
        // future probe → duplicates). The count is recomputed exactly
        // for the same reason (the crashed attempt never updated it).
        val newCount =
          if (crashReplay) landedKeys.map(_.count()).getOrElse(0L)
          else sizing.count + nNovel
        if (newCount * 2 >= sizing.items && sizing.items < keeperMaxBloomItems) {
          // clamped monolith rebuild. At the clamp the bloom saturates and
          // fpp degrades gracefully: more bloom hits, each paying the
          // exact column-pruned anti-join — performance, never
          // correctness. Lakes past ~16M keys should drain in deferred
          // mode instead.
          // exact-count BACKFILL: sizing.count is maintained incrementally
          // between rebuilds and can drift low (crash replays recompute it,
          // but a pre-fix mixed-mode lake may carry an undercount) — the
          // rebuild already scans every landed key for the bloom, so one
          // extra count() over the same column-pruned read corrects the
          // ledger exactly (keys are unique in the lake by construction)
          val ids = lakeIds()
          val exact = ids.count()
          val targetItems = math.min(
            4L * math.max(sizing.items, math.max(newCount, exact)),
            math.max(keeperMaxBloomItems, sizing.items))
          val bf = ids.stat.bloomFilter("_kh", targetItems, sizing.fpp)
          IdBloom.writeGen(fs, dest, batchId, bf)
          keeperStepHook(dest, "gen-written")
          IdBloom.writeSizing(fs, dest, IdBloom.Sizing(targetItems, sizing.fpp, exact))
          keeperStepHook(dest, "sizing-written")
        } else {
          val guardRows = if (crashReplay) keep else novel
          if (!guardRows.isEmpty) {
            val b = guardRows.select(kh.as("_kh"))
              .stat.bloomFilter("_kh", sizing.items, sizing.fpp)
            // torn gen/sizing pair → rebuild from the lake (IdBloom
            // .mergeOrRebuild's scaladoc has the crash window)
            val merged = IdBloom.mergeOrRebuild(b, prevBloom)(
              lakeIds().stat.bloomFilter("_kh", sizing.items, sizing.fpp))
            IdBloom.writeGen(fs, dest, batchId, merged)
            keeperStepHook(dest, "gen-written")
          }
          IdBloom.writeSizing(fs, dest, sizing.copy(count = newCount))
          keeperStepHook(dest, "sizing-written")
        }
      }
      IdBloom.pruneGens(fs, dest)
      keeperStepHook(dest, "pruned")
      fs.create(done, true).close()
      true
    } finally {
      keep.unpersist()
      graft.functions.Checkpoints.releaseNow(novel)
    }
  }

  /** The checkpoint's persistent query id (from its `metadata` file) —
    * the natural writer identity for the `_writer` stamp; None before
    * the stream has started / on a foreign layout. */
  private def checkpointQueryId(fs: org.apache.hadoop.fs.FileSystem,
                                checkpoint: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpoint/metadata")
    if (!fs.exists(p)) None
    else """"id"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(IdBloom.readSmall(fs, p)).map(_.group(1))
  }
}
