package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program by three Spark listeners.
  *
  * An op span is one timed operation (one `CollectorMain.run` call or one
  * query). Job spans are its children, stage spans the jobs' children, and
  * micro-batch spans come from streaming progress. Everything is kept in
  * memory and written out once the traced window ends.
  *
  * A job belongs to the module of the innermost `graft.*` frame in its
  * stage call site, skipping this harness's own frames. Without one it
  * falls back to the frames of the SQL execution that ran it, then to
  * `streaming` for jobs of a streaming query's micro-batch, then to the
  * op's module. */
object Trace {
  final case class OpSpan(id: Int, name: String, module: String, start: Long, end: Long)

  final class JobSpan(val id: Int, val start: Long, val module: String) {
    var end: Long = start
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var stagesRun = 0
  }

  final case class StageSpan(id: Int, job: Int, start: Long, end: Long, tasks: Int)
  final case class BatchSpan(start: Long, end: Long, rows: Long, phases: Map[String, Long])
  final case class PlanSpan(start: Long, phases: Map[String, Long])

  val Modules: Seq[String] =
    Seq("CollectorMain", "streaming", "ingest", "sources", "functions", "queries", "analyze")

  /** Module owning a frame's class, if it is one of the program's modules. */
  def moduleOfClass(cls: String): Option[String] = {
    val parts = cls.stripPrefix("graft.").split('.')
    if (!cls.startsWith("graft.")) None
    else if (parts.length > 1) parts(0) match {
      case m @ ("streaming" | "ingest" | "sources" | "functions" | "queries" | "analyze") => Some(m)
      case "plans" => Some("functions") // Catalyst wrappers of the kernels
      case _ => None
    } else parts(0).takeWhile(_ != '$') match {
      case "CollectorMain" => Some("CollectorMain")
      case "Tables" | "SparkEntry" => Some("queries")
      case _ => None
    }
  }

  private val FrameRe = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(.*""".r

  /** Innermost program frame of a call-site string (innermost first). */
  def moduleOfCallSite(details: String): Option[String] =
    Option(details).iterator.flatMap(_.split('\n')).flatMap {
      case FrameRe(cls) if !cls.startsWith("perfbench.") => moduleOfClass(cls)
      case _ => None
    }.nextOption()

  /** Ask the listener bus to deliver everything posted so far. */
  def drainBus(sc: SparkContext): Unit = {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(2000) }
  }
}

final class Trace(spark: SparkSession, opModule: String) {
  import Trace._

  val ops = mutable.ArrayBuffer[OpSpan]()
  val jobs = mutable.LinkedHashMap[Int, JobSpan]()
  val stages = mutable.ArrayBuffer[StageSpan]()
  val batches = mutable.ArrayBuffer[BatchSpan]()
  val plans = mutable.ArrayBuffer[PlanSpan]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execModule = mutable.HashMap[Long, String]()

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        moduleOfCallSite(s.details).foreach(m => execModule(s.executionId) = m)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val module = e.stageInfos.iterator.flatMap(s => moduleOfCallSite(s.details)).nextOption()
        .orElse(prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong)))
        .orElse(prop("sql.streaming.queryId").map(_ => "streaming"))
        .getOrElse(opModule)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = new JobSpan(e.jobId, e.time, module)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val job = stageJob.getOrElse(s.stageId, -1)
      jobs.get(job).foreach(_.stagesRun += 1)
      stages += StageSpan(s.stageId, job, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), s.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val phases = mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => phases(k) = v.longValue)
      batches.synchronized {
        batches += BatchSpan(start, start + phases.getOrElse("triggerExecution", 0L),
          p.numInputRows, phases.toMap)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans.synchronized {
        plans += PlanSpan(ph.values.map(_.startTimeMs).min,
          ph.map { case (k, v) => k -> v.durationMs })
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = {
    drainBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  def op(id: Int, name: String, start: Long, end: Long): Unit =
    ops += OpSpan(id, name, opModule, start, end)

  private def inOp(t: Long, o: OpSpan) = t >= o.start && t <= o.end

  private def opJobs(o: OpSpan): Seq[JobSpan] = jobs.values.filter(j => inOp(j.start, o)).toSeq

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
         .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) {
        if (curE > curS) covered += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** The per-layer metrics of the traced window (without the ones the
    * harness adds: landed ratio, sink output, speed-up, overhead). */
  def layerMetrics(cores: Int): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    val opJobSets = ops.toSeq.map(o => o -> opJobs(o))
    val inAnyOp = opJobSets.flatMap(_._2)
    for (m <- Modules) {
      val js = inAnyOp.filter(_.module == m)
      val busy = opJobSets.map { case (o, oj) =>
        unionMs(oj.filter(_.module == m).map(j => (j.start, j.end)), o.start, o.end)
      }.sum
      out += ((s"$m.jobs", js.size.toDouble, "count"))
      out += ((s"$m.tasks", js.map(_.tasks).sum.toDouble, "count"))
      out += ((s"$m.busy_s", busy / 1e3, "s"))
      out += ((s"$m.executor_cpu_s", js.map(_.cpuNs).sum / 1e9, "s"))
      out += ((s"$m.gc_s", js.map(_.gcMs).sum / 1e3, "s"))
      out += ((s"$m.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6, "MB"))
      out += ((s"$m.spill_mb", js.map(_.spillBytes).sum / 1e6, "MB"))
    }
    val opBatches = batches.filter(b => ops.exists(o => inOp(b.start, o)))
    def phase(k: String) = opBatches.map(_.phases.getOrElse(k, 0L)).sum / 1e3
    out += (("streaming.batches", opBatches.size.toDouble, "count"))
    for (k <- Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
                  "commitOffsets"))
      out += ((s"streaming.${k}_s", phase(k), "s"))
    val wallMs = ops.map(o => o.end - o.start).sum.toDouble
    val driverOnly = opJobSets.map { case (o, oj) =>
      (o.end - o.start) - unionMs(oj.map(j => (j.start, j.end)), o.start, o.end)
    }
    out += (("spark.jobs", inAnyOp.size.toDouble, "count"))
    out += (("spark.stages", inAnyOp.map(_.stagesRun).sum.toDouble, "count"))
    out += (("spark.tasks", inAnyOp.map(_.tasks).sum.toDouble, "count"))
    out += (("spark.driver_only_s", driverOnly.sum / 1e3, "s"))
    out += (("spark.executor_busy_frac",
      if (wallMs > 0) inAnyOp.map(_.runMs).sum / (wallMs * cores) else 0.0, "ratio"))
    val opPlans = plans.filter(p => ops.exists(o => inOp(p.start, o)))
    def plan(k: String) = opPlans.map(_.phases.getOrElse(k, 0L)).sum / 1e3
    out += (("planning.analysis_s", plan("analysis"), "s"))
    out += (("planning.optimization_s", plan("optimization"), "s"))
    out += (("planning.planning_s", plan("planning"), "s"))
    out += (("planning.actions", opPlans.size.toDouble, "count"))
    val jobsPerOp = opJobSets.map(_._2.size.toDouble)
    out += (("queries.jobs_per_query_p50", Harness.median(jobsPerOp), "count"))
    out += (("queries.jobs_per_query_max", if (jobsPerOp.isEmpty) 0.0 else jobsPerOp.max, "count"))
    // per op: modules' busy time plus serial driver time against the op's wall
    val accounted = opJobSets.zip(driverOnly).map { case ((o, oj), d) =>
      val busy = Modules.map(m =>
        unionMs(oj.filter(_.module == m).map(j => (j.start, j.end)), o.start, o.end)).sum
      (busy + d).toDouble / math.max(1L, o.end - o.start)
    }
    out += (("trace.accounted_frac_p50", Harness.median(accounted), "ratio"))
    out.toSeq
  }

  /** Every span as one JSON object per line, parents by id. */
  def spansJsonl(): String = {
    val sb = new StringBuilder
    def line(kv: (String, Any)*): Unit =
      sb.append(Harness.json.writeValueAsString(kv.toMap)).append('\n')
    for (o <- ops) line("span" -> "op", "id" -> o.id, "name" -> o.name,
      "module" -> o.module, "start_ms" -> o.start, "end_ms" -> o.end)
    for (j <- jobs.values; o <- ops.find(o => inOp(j.start, o)))
      line("span" -> "job", "id" -> j.id, "parent_op" -> o.id, "module" -> j.module,
        "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stagesRun, "tasks" -> j.tasks,
        "executor_run_ms" -> j.runMs, "executor_cpu_ms" -> j.cpuNs / 1000000,
        "gc_ms" -> j.gcMs, "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)
    for (s <- stages if jobs.get(s.job).exists(j => ops.exists(o => inOp(j.start, o))))
      line("span" -> "stage", "id" -> s.id, "parent_job" -> s.job, "start_ms" -> s.start,
        "end_ms" -> s.end, "tasks" -> s.tasks)
    for (b <- batches; o <- ops.find(o => inOp(b.start, o)))
      line("span" -> "batch", "parent_op" -> o.id, "start_ms" -> b.start, "end_ms" -> b.end,
        "rows" -> b.rows, "duration_ms" -> b.phases)
    sb.toString
  }
}
