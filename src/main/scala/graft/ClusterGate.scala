package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Multi-JVM execution gate: everything else in this repo runs
  * `local[N]` — ONE JVM, where closure/expression serialization,
  * TorrentBroadcast transport, task-result limits, and executor-side
  * classloading of the custom physical operators are never actually
  * exercised (a non-serializable capture or an executor-only
  * ClassNotFound is exactly what local mode blesses and a real cluster
  * breaks). Spark's `local-cluster[workers,cores,memMB]` master spawns
  * REAL separate executor JVMs (via SPARK_HOME's launcher) with no
  * cluster infra, so one run here proves:
  *
  *   - the app classes ship via `spark.jars` and load on executors
  *     (custom Catalyst expressions inside codegen included);
  *   - the custom SparkPlan (`plans/AsOfJoinPlan`), the codegen
  *     expressions (`ZOrder2`, `MsgpackToJsonExpr`, `MinHashSlots`, the
  *     `StaticInvoke` calls into `VectorOps`), and the multi-MB bloom
  *     plan-literals survive task serialization and network transport;
  *   - the inline keeper's streaming protocol runs its foreachBatch
  *     closure on remote executors.
  *
  * Usage: `sbt package && sbt "runMain graft.ClusterGate"`. Prints a
  * markdown row per item plus one JSON line; exits non-zero on any
  * failure. SPARK_GRAFT_SF_DIR picks the lake (default sf0.1);
  * SPARK_GRAFT_ONLY (comma-separated item names, query names included)
  * runs only those items, for debugging.
  */
object ClusterGate {

  /** The 19-query expensive set (COVERAGE.md scale table) — the suite's
    * heaviest shuffles/joins/iterative fits, i.e. the plans with the
    * most serialization surface. */
  private val expensive = Seq(
    "q_ann_recall", "q_asof_join", "q_asof_join_native", "q_chunk_dedup",
    "q_decontaminate_exact", "q_dedup_minhash_lsh", "q_kmeans_fit",
    "q_knn_ivf_fitted", "q_label_prop", "q_mad_outliers", "q_pagerank",
    "q_pmi_pairs", "q_retrieval_eval", "q_source_overlap", "q_tfidf",
    "q_token_budget", "q_triangle_count", "q_trimmed_stats",
    "q_unigram_surprisal")

  /** Custom-operator / transport risk set: native Z-order + as-of plan,
    * msgpack UDF round-trip, bloom plan-literal shipping, broadcast LUT
    * (PQ) and broadcast join, bucketized range join, distributed
    * prefix-scan packing. */
  private val customRisk = Seq(
    "q_zorder", "q_msgpack_roundtrip", "q_incremental_bloom", "q_pq_ann",
    "q_join_broadcast", "q_range_join", "q_seq_packing",
    // r16: broadcast centroid row + localCheckpoint blocks on executors
    "q_semdedup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,16,8192]")
    val jar = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_APP_JAR",
      "target/scala-2.13/redpandatoparquetwriterspark_2.13-0.1.0.jar"))
    require(jar.exists(),
      s"app jar missing — run `sbt package` first (executors are separate " +
        s"JVMs and need the graft classes via spark.jars): $jar")
    val spark = Sessions.builder(master, "32")
      .appName("graft-cluster-gate")
      // worker capacity is 8192 MB: leave headroom for the executor's
      // non-heap overhead so the worker accepts the allocation
      .config("spark.executor.memory", "7g")
      .config("spark.jars", jar.getAbsolutePath)
      // ExecutorRunner builds the executor command with the in-process
      // launcher, which never sources load-spark-env.sh — without this
      // the classpath probe throws "Cannot find any build directories."
      // (executorEnv reaches the launcher's childEnv before System.getenv)
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Option[Double], String)]
    def item(name: String)(body: => Unit): Unit = if (only.forall(_.contains(name))) {
      val t0 = System.nanoTime()
      try { body; results += ((name, Some((System.nanoTime() - t0) / 1e9), "")) }
      catch { case e: Throwable =>
        val msg = (Option(e.getMessage).getOrElse(e.getClass.getName)).linesIterator
          .mkString(" ").take(300)
        results += ((name, None, msg))
      }
    }

    // 0. PROOF OF MULTI-JVM: the work must land on exactly `workers`
    // executor JVMs (from the master string), none of which is the
    // driver. (pid@host from the runtime MX bean is unique per JVM.)
    // The probe WAITS for full registration first: standalone schedules
    // as soon as ONE executor is up (minRegisteredResourcesRatio=0), so
    // an eager trivial job can finish on executor 1 before executor 2
    // registers and flake a healthy build.
    val expectedExecs = "local-cluster\\[(\\d+)".r.findFirstMatchIn(master)
      .map(_.group(1).toInt).getOrElse(1)
    val driverJvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    item("executor_jvms") {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      // getExecutorMemoryStatus includes the driver's own entry
      while (spark.sparkContext.getExecutorMemoryStatus.size < expectedExecs + 1
        && System.nanoTime() < deadline) Thread.sleep(200)
      val jvms = spark.sparkContext.parallelize(1 to 256, 32)
        .map(_ => java.lang.management.ManagementFactory.getRuntimeMXBean.getName)
        .distinct().collect().toSet
      require(jvms.size == expectedExecs && !jvms.contains(driverJvm),
        s"expected $expectedExecs executor JVMs distinct from driver $driverJvm, got $jvms")
    }

    // 1. Executor-side classloading of a custom codegen expression via
    // the SQL extension point (the expression class is NOT on the
    // executor's system classpath — only in spark.jars).
    item("sql_msgpack_expression") {
      import spark.implicits._
      graft.plans.GraftExtensions.register(spark)
      val payloads = Seq(
        (1L, graft.functions.Msgpack.encode(Map("k" -> 42, "s" -> "x"))),
        (2L, graft.functions.Msgpack.encode(Seq(1, 2, 3))),
        (3L, null: Array[Byte]))
      payloads.toDF("id", "payload").repartition(8).createOrReplaceTempView("mp_gate")
      val out = spark.sql(
        "SELECT id, msgpack_to_json(payload) j FROM mp_gate ORDER BY id")
        .as[(Long, Option[String])].collect().toMap
      require(out(1L).contains("""{"k":42,"s":"x"}""") &&
        out(2L).contains("[1,2,3]") && out(3L).isEmpty, out.toString)
    }

    // 2. The expensive set + the custom-operator risk set, full plans to
    // the noop sink (same execution discipline as Bench).
    val queries = SparkEntry.queries
    val names = expensive ++ customRisk
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown gate queries: $unknown")
    names.foreach { name =>
      item(name) {
        queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        graft.functions.Checkpoints.releaseAll()
      }
    }

    // 3. Streaming protocols: their foreachBatch closures + bloom-literal
    // probes now run on remote executors.
    val work = java.nio.file.Files.createTempDirectory("clustergate").toString
    item("keeper_drain") {
      val events = Tables(spark, sfDir, "events").filter(col("event_id") < 2000)
      val src = s"$work/keeper/src"
      events.filter(col("event_id") < 1500).write.parquet(src)
      IngestPipeline_runKeeper(spark, src, events.schema, s"$work/keeper/lake",
        s"$work/keeper/ckpt")
      val n1 = spark.read.parquet(s"$work/keeper/lake").count()
      require(n1 == 1500, s"first drain landed $n1 rows, expected 1500")
      // redeliver 1000 old keys + 500 new: the id-bloom guard (a
      // broadcast-variable probe on the filter — the multi-MB bloom
      // must cross the process boundary via torrent broadcast, not the
      // task binary) must drop the dups
      events.filter(col("event_id") >= 500).write.mode("append").parquet(src)
      IngestPipeline_runKeeper(spark, src, events.schema, s"$work/keeper/lake",
        s"$work/keeper/ckpt")
      val lake = spark.read.parquet(s"$work/keeper/lake")
      require(lake.count() == 2000 &&
        lake.select("event_id").distinct().count() == 2000,
        "redelivered keys re-admitted under local-cluster")
    }
    item("envelope_drain") {
      // the msgpack envelope path cross-JVM: per-topic detection (typed
      // UDAF partials merge across executors), the native msgpack_to_json
      // inside the streaming decode, and the FileStreamSink commit
      // protocol all run on remote executor JVMs
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, TimestampType}
      val envSchema = StructType(Seq(
        StructField("kafka_topic", StringType),
        StructField("kafka_partition", LongType),
        StructField("kafka_offset", LongType),
        StructField("kafka_timestamp", TimestampType),
        StructField("kafka_key", StringType),
        StructField("value", BinaryType)))
      val rows = (0 until 400).flatMap { i =>
        val payload = s"""{"px": ${i * 1.5}, "qty": $i}"""
        val t = new java.sql.Timestamp(1709251200000L + i.toLong * 3600 * 1000)
        Seq(
          Row("ticks", (i % 2).toLong, i.toLong, t, s"k$i",
            graft.functions.Msgpack.encodeFlatJson(payload)),
          Row("logs", 0L, i.toLong, t, null, payload.getBytes("UTF-8")))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), envSchema)
        .write.parquet(s"$work/env/src")
      CollectorMain.run(spark,
        graft.ingest.GraftConfig(outputDir = s"$work/env/out"),
        "file", s"$work/env/src")
      val lake = spark.read.parquet(s"$work/env/out/lake")
      require(lake.count() == 800 &&
        lake.where(col("raw_value").isNull).count() == 800 &&
        lake.columns.contains("px"),
        "envelope drain diverged under local-cluster")
    }

    // 4. EXECUTOR LOSS: on a 1000-executor cluster executors die hourly;
    // the engine's plans must survive (a) tasks lost mid-flight — retry
    // on survivors — and (b) shuffle map outputs lost with the executor
    // — FetchFailed → map-stage resubmission (no external shuffle
    // service here, the harder regime). Both phases assert exact
    // results, not just completion.
    item("executor_loss_recovery") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val sc = spark.sparkContext
      // materialize a shuffle BEFORE the kill so its map outputs live in
      // the doomed executor's local dirs
      val shuffled = sc.parallelize(1L to 100000L, 32)
        .map(i => (i % 1000, i)).reduceByKey(_ + _)
      shuffled.count()
      // phase (a): two task waves of 800 ms; the kill lands inside the
      // second wave, so ~16 running tasks die with the executor
      val slow = Future {
        sc.parallelize(1L to 64L, 64).map { i => Thread.sleep(800); i }.sum()
      }
      Thread.sleep(1500)
      // filter by THIS app's id: a bare CoarseGrainedExecutorBackend
      // match could kill another Spark app's executor (or a stale
      // orphan) and leave this gate's executors alive — the loss test
      // would then pass without exercising any recovery at all
      val appId = sc.applicationId
      val pids = scala.sys.process.Process(
        Seq("pgrep", "-f", s"CoarseGrainedExecutorBackend.*--app-id $appId"))
        .lazyLines_!.map(_.trim).filter(_.nonEmpty).toList
      require(pids.nonEmpty, s"no executor JVMs of app $appId found to kill")
      scala.sys.process.Process(s"kill -9 ${pids.head}").!
      require(Await.result(slow, 4.minutes) == 64L * 65 / 2,
        "task retry after executor loss produced a wrong sum")
      // phase (b): consume the pre-kill shuffle — the dead executor's map
      // outputs are gone, so this must FetchFailed → recompute, exactly
      require(shuffled.map(_._2).sum() == 100000L * 100001 / 2,
        "shuffle refetch after executor loss produced a wrong sum")
      // and a full SQL query still lands on whatever executors remain /
      // the master relaunched
      queries("q_tfidf")(spark, sfDir).write.format("noop").mode("overwrite").save()
    }

    // ---- report
    val pad = results.map(_._1.length).maxOption.getOrElse(0)
    println(s"\n| item | sec | status |\n|---|---|---|")
    results.foreach { case (n, t, err) =>
      println(s"| ${n.padTo(pad, ' ')} | ${t.fold("-")(x => f"$x%.2f")} | " +
        s"${if (t.isDefined) "pass" else s"FAIL: $err"} |")
    }
    val nFail = results.count(_._2.isEmpty)
    val itemsJson = results.map { case (n, t, _) =>
      "\"" + n + "\":" + t.map(x => f"$x%.2f").getOrElse("null")
    }.mkString("{", ",", "}")
    println(s"""{"gate":"local-cluster","master":"$master","sf":"$sfDir","n_items":${results.size},"n_failed":$nFail,"items":$itemsJson}""")
    spark.stop()
    // the streaming items' lakes/checkpoints are run-scoped scratch —
    // repeated gate runs must not accumulate parquet under /tmp
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    if (nFail > 0) sys.exit(1)
  }

  /** Thin alias so the gate body reads as a checklist. */
  private def IngestPipeline_runKeeper(spark: SparkSession, src: String,
      schema: StructType, dest: String, ckpt: String): Unit = {
    val payloadSchema = StructType(Seq(StructField("k", LongType)))
    graft.streaming.IngestPipeline.runFileIngestKeeper(
      spark, src, schema, payloadSchema, dest, ckpt)
  }
}
