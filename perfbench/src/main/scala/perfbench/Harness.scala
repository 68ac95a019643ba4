package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CollectorMain
import graft.ingest.GraftConfig

/** The benchmark's JVM side: one workload per process, driven by run.py.
  *
  * A run is set-up, then a timed window of whole rounds in a closed loop
  * with one caller, until the rounds' timed wall reaches `--seconds`:
  *  - drain_oneshot: a round is one first drain into an empty lake;
  *  - drain_resume: a round is one incremental drain into the growing lake;
  *  - query_mix: a round is one pass over the query list, in seeded order.
  * Every op is checked after its timing stops; a throw or a failed check
  * counts the op as failed. With `--trace 1` the window runs twice, first
  * untraced and then with the listeners of [[Trace]], and one more round
  * runs on a single core for the speed-up figure.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --input DIR --work DIR --result FILE [--golden FILE] [--record-golden 1]
  */
object Harness {
  final case class OpRec(id: Int, round: Int, name: String, wallS: Double, cpuS: Double,
                         items: Long, errors: Seq[String]) {
    def ok: Boolean = errors.isEmpty
  }

  final class Ctx(val workload: String, val seed: Long, val cores: Int, val input: String,
                  val work: String, val golden: Option[String], val recordGolden: Boolean) {
    var spark: SparkSession = _
    var trace: Option[Trace] = None
    val ops = mutable.ArrayBuffer[OpRec]()
    /** Per op id: (landed, offered) messages and (files, bytes) written. */
    val landed = mutable.HashMap[Int, (Long, Long)]()
    val written = mutable.HashMap[Int, (Long, Long)]()
    var lakeBytesPerMsg: Seq[Double] = Nil
    /** Applied to a landed lake before its check; the self-test corrupts here. */
    var corrupt: String => Unit = _ => ()

    /** One timed op: `body` is timed, `check` runs after the clock stops. */
    def op[A](round: Int, name: String, items: Long)(body: => A)(check: A => Seq[String]): OpRec = {
      val id = ops.size
      spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
      val startMs = System.currentTimeMillis()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val res = try Right(body) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val endMs = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      trace.foreach(_.op(id, name, startMs, endMs))
      val errors = res match {
        case Left(e) => Seq(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(a) =>
          try check(a) catch { case e: Throwable => Seq(s"$name check threw: ${e.getMessage}") }
      }
      errors.foreach(e => System.err.println(s"[perfbench] FAILED op $id: $e"))
      val rec = OpRec(id, round, name, wall, cpu, items, errors)
      ops += rec
      rec
    }
  }

  /** CPU time of the whole process: driver, executors, JIT and GC threads. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  trait Workload {
    /** The program module an op of this workload enters first. */
    def opModule: String
    def drains: Boolean
    def setup(c: Ctx): Unit
    /** Runs round `r`'s ops through `c.op`; false when no more rounds exist. */
    def round(c: Ctx, r: Int): Boolean
  }

  // ---- sessions ---------------------------------------------------------

  /** Drains get the collector's own session (as `CollectorMain.main` builds
    * it), queries the harness session of `Bench`/`Verify`. */
  def session(c: Ctx, cores: Int, drains: Boolean): SparkSession = {
    val master = s"local[$cores]"
    val b =
      if (drains) {
        val b = SparkSession.builder().master(master)
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
        GraftConfig().sparkConfs.foreach { case (k, v) => b.config(k, v) }
        b
      } else graft.Sessions.builder(master, cores.toString)
    val s = b.config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${c.work}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- shared helpers ---------------------------------------------------

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(path: String): JsonNode = json.readTree(new File(path))

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  /** Moves every file of `from` into `to` (a broker delivering new data). */
  def deliver(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    for (f <- new File(from).listFiles().sortBy(_.getName))
      Files.move(f.toPath, Paths.get(to, f.getName))
  }

  /** Data files of a lake: what `LakeWriter` lands, not its bookkeeping. */
  def dataFiles(lake: String): Map[String, Long] = {
    val root = Paths.get(lake)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .filterNot(p => root.relativize(p).iterator().asScala.exists { part =>
        val n = part.toString; n.startsWith("_") || n.startsWith(".")
      })
      .map(p => p.toString -> Files.size(p)).toMap
  }

  def lineageVersions(lake: String): Int = {
    val d = new File(lake, "_schema")
    Option(d.listFiles()).toSeq.flatten.count(_.getName.matches("v\\d+_[0-9a-f]+\\.json"))
  }

  /** The drains' output check, against the generator's manifest. */
  def checkLake(spark: SparkSession, lake: String, expectTopics: Map[String, Long],
                expectVersions: Int, expectEvolved: Long): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val df = spark.read.option("mergeSchema", "true").parquet(lake)
    val ids = Seq("kafka_topic", "kafka_partition", "kafka_offset").map(col)
    val row = df.agg(count(lit(1)), count(when(col("raw_value").isNotNull, 1)),
      (if (df.columns.contains("venue")) count(col("venue")) else lit(0L))).head()
    val (n, raw, evolved) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val distinct = df.select(ids: _*).distinct().count()
    val expected = expectTopics.values.sum
    val topics = df.groupBy("kafka_topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (distinct != expected) errs += s"landed $distinct distinct identities, offered $expected"
    if (n != distinct) errs += s"${n - distinct} duplicate identities landed"
    if (raw != 0) errs += s"$raw rows degraded to raw_value"
    if (topics != expectTopics) errs += s"per-topic counts $topics, expected $expectTopics"
    val v = lineageVersions(lake)
    if (v != expectVersions) errs += s"lineage has $v versions, expected $expectVersions"
    if (evolved != expectEvolved) errs += s"$evolved rows carry the new field, expected $expectEvolved"
    errs.toSeq
  }

  def topicCounts(n: JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  // ---- drain_oneshot ----------------------------------------------------

  object DrainOneshot extends Workload {
    val opModule = "CollectorMain"
    val drains = true
    private var manifest: JsonNode = _
    private val WarmDrains = 2

    private def drain(c: Ctx, src: String, out: String): Unit =
      CollectorMain.run(c.spark, GraftConfig(outputDir = out), "file", src)

    def setup(c: Ctx): Unit = {
      manifest = readJson(s"${c.input}/manifest.json")
      // untimed drains of a smaller source: JIT and first-use codegen
      for (i <- 0 until WarmDrains) {
        drain(c, s"${c.input}/warm", s"${c.work}/warm_$i")
        deleteTree(s"${c.work}/warm_$i")
      }
    }

    def round(c: Ctx, r: Int): Boolean = {
      val out = s"${c.work}/oneshot_$r"
      val offered = manifest.get("offered").asLong
      c.op(r, "drain_oneshot", offered)(drain(c, s"${c.input}/src", out)) { _ =>
        val lake = s"$out/lake"
        c.corrupt(lake)
        val files = dataFiles(lake)
        c.written(c.ops.size) = (files.size.toLong, files.values.sum)
        c.landed(c.ops.size) = (offered, offered) // what checkLake asserts below
        c.lakeBytesPerMsg :+= files.values.sum.toDouble / offered
        checkLake(c.spark, lake, topicCounts(manifest.get("per_topic")), 1, 0L)
      }
      deleteTree(out)
      true
    }
  }

  // ---- drain_resume -----------------------------------------------------

  object DrainResume extends Workload {
    val opModule = "CollectorMain"
    val drains = true
    private var manifest: JsonNode = _
    private var next = 0
    private var evolvedLanded = 0L

    private def src(c: Ctx) = s"${c.work}/resume_src"
    private def out(c: Ctx) = s"${c.work}/resume_out"

    private def resume(c: Ctx): Unit =
      CollectorMain.run(c.spark, GraftConfig(outputDir = out(c), skipDeduplication = false,
        skipExistingCheck = false), "file", src(c))

    def setup(c: Ctx): Unit = {
      manifest = readJson(s"${c.input}/manifest.json")
      deliver(s"${c.input}/base", src(c))
      // the base lake, drained by the inline keeper
      CollectorMain.run(c.spark, GraftConfig(outputDir = out(c), skipDeduplication = false),
        "file", src(c))
      val base = topicCounts(manifest.get("base").get("per_topic"))
      val errs = checkLake(c.spark, s"${out(c)}/lake", base, 1, 0L)
      require(errs.isEmpty, s"base lake check failed: $errs")
      // one untimed resume round warms the incremental path
      require(round(c, -1, timed = false), "no resume rounds generated")
    }

    def round(c: Ctx, r: Int): Boolean = round(c, r, timed = true)

    private def round(c: Ctx, r: Int, timed: Boolean): Boolean = {
      val rounds = manifest.get("rounds")
      if (next >= rounds.size) return false
      val m = rounds.get(next)
      deliver(f"${c.input}/rounds/r$next%02d", src(c))
      val offered = m.get("offered").asLong
      val versions = m.get("lineage_versions").asInt
      if (versions > 1) evolvedLanded += m.get("new").asLong
      next += 1
      val lake = s"${out(c)}/lake"
      def check(): Seq[String] =
        checkLake(c.spark, lake, topicCounts(m.get("per_topic")), versions, evolvedLanded)
      if (!timed) {
        resume(c)
        val errs = check()
        require(errs.isEmpty, s"warm-up round check failed: $errs")
      } else {
        val before = dataFiles(lake)
        val landedBefore = c.spark.read.parquet(lake).count()
        c.op(r, "drain_resume", offered)(resume(c)) { _ =>
          c.corrupt(lake)
          val after = dataFiles(lake)
          val fresh = after.filter { case (p, sz) => !before.get(p).contains(sz) }
          c.written(c.ops.size) = (fresh.size.toLong, fresh.values.sum)
          val landedAfter = c.spark.read.parquet(lake).count()
          c.landed(c.ops.size) = (landedAfter - landedBefore, offered)
          c.lakeBytesPerMsg :+= after.values.sum.toDouble / landedAfter
          check()
        }
      }
      true
    }
  }

  // ---- query_mix --------------------------------------------------------

  /** The 26 oracle-covered queries the mix runs. */
  val Queries: Seq[String] = Seq(
    // reader / ingest surface
    "q1_agg", "q_ingest_e2e", "q_json_flatten", "q_offset_ledger", "q_date_partition",
    "q_incremental_antijoin", "q_incremental_bloom", "q_count_validation",
    "q_msgpack_roundtrip", "q_content_dedup_count", "q_event_dedup_window",
    "q_dataset_diff", "q_describe_stats", "q_data_profile",
    // job-floor bound
    "q_dedup_keep", "q_retrieval_eval", "q_bm25",
    // native-expression kernels
    "q_decontaminate", "q_int8_quantize", "q_dedup_minhash_lsh", "q_edge_table",
    // robust statistics
    "q_mad_outliers", "q_trimmed_stats", "q_percentile",
    // untouched controls
    "q_source_kl", "q_table_digest")

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** Order-insensitive digest of a result: its row count and the exact sum
    * of one xxhash64 per row over all columns, taken in column-name order. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val byName = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = byName.map { case (f, i) =>
      val c = pos.col(s"c$i")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val r = pos.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def releaseCheckpoints(): Unit =
    try {
      val cls = Class.forName("graft.functions.Checkpoints$")
      cls.getMethod("releaseAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: ReflectiveOperationException => () }

  object QueryMix extends Workload {
    val opModule = "queries"
    val drains = false
    var queries: Seq[String] = Queries
    var golden = Map.empty[String, (Long, java.math.BigDecimal)]
    val recorded = mutable.LinkedHashMap[String, (Long, java.math.BigDecimal)]()

    def setup(c: Ctx): Unit = {
      if (golden.isEmpty) golden = c.golden.filter(p => new File(p).exists).map { p =>
        readJson(p).fields().asScala.map { e =>
          e.getKey -> ((e.getValue.get("rows").asLong,
            new java.math.BigDecimal(e.getValue.get("hash_sum").asText)))
        }.toMap
      }.getOrElse(Map.empty)
      val missing = queries.filterNot(graft.SparkEntry.queries.contains)
      require(missing.isEmpty, s"queries not registered: $missing")
      require(c.recordGolden || queries.forall(golden.contains), "golden digests missing")
      // engine warm-up, as Bench does it: a few trivial statements, so the
      // first timed query does not also pay session-wide first use
      val sf = s"${c.input}/sf"
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      noop(c.spark.read.parquet(s"$sf/region.parquet"))
      noop(c.spark.read.parquet(s"$sf/nation.parquet").groupBy(col("n_regionkey"))
        .agg(count(lit(1)), sum(col("n_nationkey").cast("decimal(18,3)")).cast("double"))
        .orderBy(col("n_regionkey")))
      noop(c.spark.read.parquet(s"$sf/documents.parquet").limit(50)
        .select(expr("size(array_distinct(split(text, ' ')))").as("n")).agg(sum(col("n"))))
      digest(c.spark.read.parquet(s"$sf/nation.parquet"))
    }

    private def run(c: Ctx, q: String): (Long, java.math.BigDecimal) = {
      try digest(graft.SparkEntry.queries(q)(c.spark, s"${c.input}/sf"))
      finally {
        c.spark.catalog.clearCache()
        releaseCheckpoints()
      }
    }

    def round(c: Ctx, r: Int): Boolean = {
      val order = new scala.util.Random(c.seed * 1000003L + r).shuffle(queries)
      for (q <- order) c.op(r, q, 1L)(run(c, q)) { d =>
        if (c.recordGolden) { recorded(q) = d; Nil }
        else if (golden.get(q).contains(d)) Nil
        else Seq(s"digest $d differs from golden ${golden.get(q)}")
      }
      true
    }
  }

  // ---- the window and its metrics --------------------------------------

  /** Whole rounds until their timed wall reaches `seconds`. */
  def window(c: Ctx, w: Workload, seconds: Double, firstRound: Int,
             maxRounds: Int = Int.MaxValue): Seq[OpRec] = {
    val from = c.ops.size
    var r = firstRound
    var spent = 0.0
    var more = true
    while (more && (r == firstRound || spent < seconds) && r - firstRound < maxRounds) {
      val first = c.ops.size
      more = w.round(c, r)
      spent += c.ops.drop(first).map(_.wallS).sum
      r += 1
    }
    c.ops.drop(from).toSeq
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per round: (timed wall, process CPU, items). */
  def roundWalls(ops: Seq[OpRec]): Seq[(Double, Double, Long)] =
    ops.groupBy(_.round).toSeq.sortBy(_._1).map { case (_, os) =>
      (os.map(_.wallS).sum, os.map(_.cpuS).sum, os.map(_.items).sum)
    }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val c = new Ctx(a("workload"), a("seed").toLong, a("cores").toInt, a("input"), a("work"),
      a.get("golden"), a.get("record-golden").contains("1"))
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val w: Workload = c.workload match {
      case "drain_oneshot" => DrainOneshot
      case "drain_resume" => DrainResume
      case "query_mix" => QueryMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    c.spark = session(c, c.cores, w.drains)
    w.setup(c)
    val firstOpMs = System.currentTimeMillis()

    val untraced = window(c, w, seconds, 0)
    val rss = peakRssMb()
    val rounds = roundWalls(untraced)
    val wallS = median(rounds.map(_._1))
    val result = mutable.LinkedHashMap[String, Any]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("wall_s") = (wallS, "s")
    metrics("items_per_s") = (median(rounds.map { case (s, _, n) => n / s }), "1/s")
    metrics("cpu_s") = (median(rounds.map(_._2)), "s")
    metrics("peak_rss_mb") = (rss, "MB")

    if (traced) {
      val t = new Trace(c.spark, w.opModule)
      c.trace = Some(t)
      t.start()
      val tracedOps = window(c, w, seconds, rounds.size)
      t.stop()
      c.trace = None
      metrics.clear()
      t.layerMetrics(c.cores).foreach { case (k, v, u) => metrics(k) = (v, u) }
      val ids = tracedOps.map(_.id).toSet
      val land = c.landed.filter(e => ids(e._1)).values
      metrics("streaming.landed_per_offered") =
        (if (land.isEmpty) 0.0 else land.map(_._1).sum.toDouble / land.map(_._2).sum, "ratio")
      val wr = c.written.filter(e => ids(e._1)).values
      metrics("sources.files_written") = (wr.map(_._1).sum.toDouble, "count")
      metrics("sources.mb_written") = (wr.map(_._2).sum / 1e6, "MB")
      metrics("sources.lake_bytes_per_msg") = (median(c.lakeBytesPerMsg), "B/msg")
      val tracedWall = median(roundWalls(tracedOps).map(_._1))
      metrics("trace.overhead_frac") = (tracedWall / wallS - 1, "ratio")
      metrics("queries.op_p50_s") = (median(tracedOps.map(_.wallS)), "s")
      metrics("spark.peak_rss_mb") = (peakRssMb(), "MB")
      Files.writeString(Paths.get(s"${c.work}/spans.jsonl"), t.spansJsonl())
      // single-core baseline: one more round of the same workload at local[1]
      c.spark.stop()
      c.spark = session(c, 1, w.drains)
      val one = window(c, w, 0.0, rounds.size + roundWalls(tracedOps).size, maxRounds = 1)
      metrics("spark.speedup_vs_1core") = (one.map(_.wallS).sum / tracedWall, "ratio")
    }

    if (c.recordGolden) {
      val body = QueryMix.recorded.toSeq.sortBy(_._1).map { case (q, (rows, h)) =>
        q -> Map("rows" -> rows, "hash_sum" -> h.toPlainString)
      }
      Files.writeString(Paths.get(a("golden")), json.writeValueAsString(body.toMap) + "\n")
    }

    val failed = c.ops.count(!_.ok)
    result("correct") = failed == 0
    result("attempted") = c.ops.size
    result("failed") = failed
    result("jvm_start_ms") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    result("first_op_ms") = firstOpMs
    result("metrics") = metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    result("info") = Map(
      "rounds" -> rounds.size,
      "round_walls_s" -> rounds.map(_._1),
      "round_cpu_s" -> rounds.map(_._2),
      "failed_frac" -> failed.toDouble / math.max(1, c.ops.size),
      "op_walls_s" -> untraced.map(o => Seq(o.name, o.wallS)),
      "lake_bytes_per_msg" -> (if (c.lakeBytesPerMsg.isEmpty) null else median(c.lakeBytesPerMsg)),
      "errors" -> c.ops.flatMap(_.errors).take(20))
    Files.writeString(Paths.get(a("result")), json.writeValueAsString(result.toMap) + "\n")
    c.spark.stop()
  }
}
