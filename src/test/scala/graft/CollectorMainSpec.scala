package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.ingest.GraftConfig

/** The runnable collector entry point: config-driven file-mode drain,
  * exactly-once re-run, post-run validation, and the failure posture. */
class CollectorMainSpec extends SparkSpec {

  test("file-mode collector drains, lands flattened partitions, validates, resumes") {
    val work = Files.createTempDirectory("collector").toString
    val src = s"$work/src"
    Tables(spark, sf001, "events").write.parquet(src)
    val nSrc = spark.read.parquet(src).count()
    val cfg = GraftConfig(outputDir = s"$work/out",
      skipValidation = false, skipExistingCheck = false)

    CollectorMain.run(spark, cfg, "file", src)
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.count() == nSrc)
    // payload decoded and hoisted: the sampled schema found props.k
    assert(lake.columns.contains("k") && lake.columns.contains("date_path"))
    assert(!lake.columns.contains("props"))

    // re-run with the same checkpoint: exactly-once (no new rows), and
    // the validation (landed == source, no duplicate event_ids) passes
    CollectorMain.run(spark, cfg, "file", src)
    assert(spark.read.parquet(s"$work/out/lake").count() == nSrc)
  }

  test("malformed props degrade to raw_value in BOTH drain modes, never silently lost") {
    // the reference's decode contract (:240-241): an undecodable payload
    // keeps its raw text. A bare PERMISSIVE from_json returns a NON-null
    // struct of nulls for garbage, so without the corrupt-record
    // protocol the drop("props") would destroy the only copy silently —
    // this pins the props path on the same shared degrade body the
    // envelope path uses
    import org.apache.spark.sql.functions._
    for ((skipDedup, tag) <- Seq((false, "keeper"), (true, "deferred"))) {
      val work = Files.createTempDirectory(s"propsdegrade_$tag").toString
      val src = s"$work/src"
      spark.range(40).select(
          col("id").as("event_id"),
          timestamp_millis(lit(1709251200000L) + col("id") * 1000).as("ts"),
          when(col("id") < 35, concat(lit("{\"k\": "), col("id"), lit("}")))
            .otherwise(concat(lit("not json at all #"), col("id"))).as("props"))
        .write.parquet(src)
      val cfg = GraftConfig(outputDir = s"$work/out",
        skipDeduplication = skipDedup, skipValidation = false)
      CollectorMain.run(spark, cfg, "file", src)
      val lake = spark.read.parquet(s"$work/out/lake")
      assert(lake.count() == 40, tag)
      // clean rows decoded, garbage rows keep their raw text
      assert(lake.where(col("k").isNotNull).count() == 35, tag)
      val raws = lake.where(col("raw_value").isNotNull)
        .select(col("raw_value")).collect().map(_.getString(0)).toSet
      assert(raws.size == 5 && raws.forall(_.startsWith("not json at all")), tag)
    }
  }

  test("validation fails loudly when the lake disagrees with the source") {
    val work = Files.createTempDirectory("collector2").toString
    val src = s"$work/src"
    Tables(spark, sf001, "events").write.parquet(src)
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    CollectorMain.run(spark, cfg, "file", src)
    // shrink the source after the drain: landed > source now
    Tables(spark, sf001, "events").limit(10).write
      .mode("overwrite").parquet(src)
    val e = intercept[IllegalStateException] {
      CollectorMain.run(spark, cfg, "file", src)
    }
    assert(e.getMessage.contains("count validation failed"))
  }

  test("source-borne duplicates dedup in BOTH modes (inline and deferred)") {
    // the reference's SKIP_DEDUPLICATION is WHEN dedup happens, not IF —
    // either mode must land exactly the distinct events and validate OK
    for (deferred <- Seq(true, false)) {
      val work = Files.createTempDirectory(s"collector3$deferred").toString
      val src = s"$work/src"
      val ev = Tables(spark, sf001, "events").limit(50)
      ev.unionAll(ev).write.parquet(src) // every event_id delivered twice
      val cfg = GraftConfig(outputDir = s"$work/out",
        skipValidation = false, skipDeduplication = deferred)
      CollectorMain.run(spark, cfg, "file", src)
      val lake = spark.read.parquet(s"$work/out/lake")
      assert(lake.count() == 50, s"deferred=$deferred")
      assert(lake.select("event_id").distinct().count() == 50, s"deferred=$deferred")
      assert(lake.columns.contains("date_path"), "deferred rewrite keeps the partitioning")
    }
  }

  test("within-batch keeper equality: inline picks the deferred min-ts representative") {
    // duplicates that DISAGREE on ts and payload (re-stamped producer
    // retries) inside ONE micro-batch: both modes must keep the SAME
    // canonical min-ts row — the r11 contract divergence, now closed for
    // everything except cross-batch retries (which deferred alone can
    // re-arbitrate; see CollectorMain's keeper contract comment)
    val base = Tables(spark, sf001, "events").orderBy("event_id").limit(30)
    val restamped = base
      .withColumn("ts", org.apache.spark.sql.functions.expr("ts + INTERVAL 1 HOUR"))
      .withColumn("value", col("value") + 1000)
    def lakeOf(deferred: Boolean): Map[Long, (java.sql.Timestamp, Double)] = {
      val work = Files.createTempDirectory(s"collector5$deferred").toString
      base.unionAll(restamped).write.parquet(s"$work/src")
      val cfg = GraftConfig(outputDir = s"$work/out",
        skipValidation = false, skipDeduplication = deferred)
      CollectorMain.run(spark, cfg, "file", s"$work/src")
      spark.read.parquet(s"$work/out/lake").select("event_id", "ts", "value")
        .collect().map(r => (r.getLong(0), (r.getTimestamp(1), r.getDouble(2)))).toMap
    }
    val inline = lakeOf(deferred = false)
    val deferredLake = lakeOf(deferred = true)
    assert(inline == deferredLake,
      "inline and deferred modes must keep identical within-batch representatives")
    // and the representative is the ORIGINAL min-ts row, never the retry
    val want = base.select("event_id", "ts", "value")
      .collect().map(r => (r.getLong(0), (r.getTimestamp(1), r.getDouble(2)))).toMap
    assert(inline == want, "keeper must be the min-ts original")
  }

  test("deferred-dedup swap keeps the WHOLE lake visible through a later incremental drain") {
    // the regression this pins: the stage-and-swap rewrite replaces every
    // part file, so the streaming sink's _spark_metadata log (which lists
    // the OLD names) is stale; the drain checkpoint survives, so a later
    // incremental drain used to recreate the log holding only its own
    // batch — and every spark.read thereafter resolved through the log
    // and silently hid the pre-swap files. The swap now rebuilds the log
    // over the rewritten files.
    val work = Files.createTempDirectory("collector4").toString
    val src = s"$work/src"
    val ev = Tables(spark, sf001, "events").orderBy("event_id").limit(50)
    ev.unionAll(ev).write.parquet(src) // duplicates force the deferred rewrite
    val cfg = GraftConfig(outputDir = s"$work/out",
      skipValidation = false, skipDeduplication = true)
    CollectorMain.run(spark, cfg, "file", src)
    assert(spark.read.parquet(s"$work/out/lake").count() == 50)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$work/out/lake/_spark_metadata")),
      "the swap must rebuild the sink metadata log, not discard it")

    // incremental drain: 25 NEW events appended as new source files; the
    // surviving checkpoint processes only those. Without the log rebuild
    // this read collapses to 25 (the fresh log's only batch).
    Tables(spark, sf001, "events").orderBy(col("event_id").desc).limit(25)
      .write.mode("append").parquet(src)
    CollectorMain.run(spark, cfg, "file", src)
    assert(spark.read.parquet(s"$work/out/lake").count() == 75,
      "pre-swap rows must stay visible after the next incremental drain")
  }

  test("deferred-dedup swap refuses a leftover <dest>.old instead of nesting the lake into it") {
    // Hadoop's local rename(dest, old) onto an existing non-empty directory
    // moves the lake INTO old/lake and returns true; the swap would then
    // carry the stale old/_schema over and delete old — backup and lineage
    // gone. It must refuse before any rename and leave both untouched.
    val work = Files.createTempDirectory("collector6").toString
    val src = s"$work/src"
    val ev = Tables(spark, sf001, "events").orderBy("event_id").limit(50)
    ev.unionAll(ev).write.parquet(src) // duplicates force the deferred rewrite
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$work/out/lake.old")
    val staleSchema = new org.apache.hadoop.fs.Path(old, "_schema/v1_00000000.json")
    fs.create(staleSchema).close()
    val cfg = GraftConfig(outputDir = s"$work/out",
      skipValidation = false, skipDeduplication = true)
    val e = intercept[IllegalStateException] {
      CollectorMain.run(spark, cfg, "file", src)
    }
    assert(e.getMessage.contains("lake.old") && e.getMessage.contains("Lake untouched"))
    // the drained lake is where the drain left it, duplicates and all
    assert(spark.read.parquet(s"$work/out/lake").count() == 100)
    // the leftover is exactly as it was: nothing nested into it
    assert(fs.exists(staleSchema))
    assert(fs.listStatus(old).map(_.getPath.getName).toSeq == Seq("_schema"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/out/lake.rewrite")))
  }

  test("null event_ids, duplicated, dedup to ONE null-key row and validate in deferred mode") {
    // the fused (rows, distinct keys) count must keep distinct()'s
    // null-key grouping: all null event_ids are ONE key. A count(DISTINCT)
    // fusion skips nulls, expects one row fewer than the lake holds and
    // fails validation.
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("collector7").toString
    val src = s"$work/src"
    spark.range(40).select(
        when(col("id") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("id") % 20).as("event_id"),
        timestamp_millis(lit(1709251200000L) + col("id") * 1000).as("ts"),
        concat(lit("{\"k\": "), col("id"), lit("}")).as("props"))
      .write.parquet(src) // 18 event_ids twice each, plus 4 null-id rows
    val cfg = GraftConfig(outputDir = s"$work/out",
      skipValidation = false, skipDeduplication = true)
    CollectorMain.run(spark, cfg, "file", src)
    val lake = spark.read.parquet(s"$work/out/lake")
    assert(lake.count() == 19)
    assert(lake.where(col("event_id").isNull).count() == 1)
    // keep-first by ts: the null-key survivor is the earliest (id 0)
    assert(lake.where(col("event_id").isNull).select("k").head().getLong(0) == 0L)
  }

  test("one deferred envelope drain stays within its Spark job budget") {
    // the pre-drain sampling and the post-drain audit/validation each do
    // their work once; a re-added count/collect round trip over the source
    // or the lake shows up here as extra jobs
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("collector8").toString
    val src = s"$work/src"
    val envSchema = StructType(Seq(
      StructField("kafka_topic", StringType),
      StructField("kafka_partition", LongType),
      StructField("kafka_offset", LongType),
      StructField("kafka_timestamp", TimestampType),
      StructField("kafka_key", StringType),
      StructField("value", BinaryType)))
    val rows = (0 until 400).flatMap { i =>
      val payload = s"""{"px": ${i * 1.5}, "qty": $i}"""
      val ts = new java.sql.Timestamp(1709251200000L + i.toLong * 60000)
      Seq(Row("ticks", (i % 2).toLong, i.toLong, ts, s"k$i",
          graft.functions.Msgpack.encodeFlatJson(payload)),
        Row("logs", 0L, i.toLong, ts, null, payload.getBytes("UTF-8")))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), envSchema)
      .write.parquet(src)
    val cfg = GraftConfig(outputDir = s"$work/out", skipValidation = false)
    val sc = spark.sparkContext
    def quiesce(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    quiesce()
    sc.addSparkListener(listener)
    try {
      CollectorMain.run(spark, cfg, "file", src)
      quiesce()
    } finally sc.removeSparkListener(listener)
    assert(spark.read.parquet(s"$work/out/lake").count() == 800)
    // 17 is what one such drain launches on this fixture
    assert(jobs.get <= 17, s"${jobs.get} Spark jobs for one envelope drain")
  }

  test("kafka mode refuses without a broker; bad mode refuses") {
    val cfg = GraftConfig()
    assert(intercept[IllegalStateException] {
      CollectorMain.run(spark, cfg, "kafka", "")
    }.getMessage.contains("live broker"))
    intercept[IllegalArgumentException] {
      CollectorMain.run(spark, cfg, "nope", "")
    }
  }
}
