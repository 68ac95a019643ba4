package graft

import org.apache.spark.sql.SparkSession

/** Session defaults for every session in the repo, specs included (the
  * harness mains, the collector, Explain, ScaleGen and the test
  * `SparkSpec`) — ONE place, so a session-level fix cannot silently apply
  * to the bench but not the gate or the plan pins. `SessionsGuardSpec`
  * fails when a file other than this one builds a session. The policy
  * is [[confs]], applied when the session is built, which
  * `GraftConfig.sparkConfs` also carries, so a session a caller builds
  * for a drain (perfbench's included) gets it through the config. Its
  * SQL entries are session confs; its two `spark.hadoop.` entries act
  * only when a context (the driver's or an executor's) first creates its
  * `file:` filesystem, since Hadoop caches filesystems JVM-wide by
  * scheme. These are also the settings a cluster deployment of this
  * library should carry. */
object Sessions {

  val confs: Map[String, String] = Map(
    // cached plans must not pin the configured shuffle-partition count:
    // by default AQE is NOT allowed to re-partition a persist()'d
    // plan's output, so at cluster-scale settings (thousands of
    // partitions) every consumer of a cached frame pays
    // thousands-of-tasks stages over kilobyte partitions — measured
    // 5.4× on q_retrieval_eval at partitions=2048 and noise-neutral at
    // 32 (COVERAGE.md round 14)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.compression.codec" -> "zstd",
    // Spark 4.1 isolates artifacts per session by default: every job is
    // tagged with its session's UUID, and an executor builds a fresh
    // classloader for each UUID. Each AvailableNow drain runs in a
    // session cloned from the caller's, and the codegen cache is keyed
    // by (classloader, code), so every drain compiled its 9 generated
    // scan/decode/sort/write classes again, and the JIT compiled them
    // again from cold. That cost, and so the throughput gain, exists
    // only for REPEATED drains in one long-lived SparkContext: a
    // repeated drain compiles 2–6 classes instead of 11–15, and
    // drain_oneshot (every timed drain a repeat) went from 37.3k to
    // 47.3k msg/s on 4 cores. `CollectorMain.main` runs one drain per
    // JVM and compiles the same 60 classes either way; there only
    // Janino's per-compile cost falls (executor compile time about
    // halves) and the process wall change stayed inside the run-to-run
    // spread. Nothing here adds session artifacts: the app's classes
    // ship context-wide through `spark.jars`
    "spark.sql.artifact.isolation.enabled" -> "false",
    // Hadoop's local filesystem, without native IO, starts a `chmod` or
    // `readlink` process per created file and per rename side, ~100 per
    // drain on the checkpoint and sink commit path; these make the same
    // calls in-process (graft.sources.NioRawLocalFileSystem)
    "spark.hadoop.fs.file.impl" -> classOf[sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[sources.NioLocalFs].getName)

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config(confs)
      // a core conf: `spark.conf.set` rejects it on a live session, so
      // it stays out of `confs`
      .config("spark.ui.enabled", "false")
}
