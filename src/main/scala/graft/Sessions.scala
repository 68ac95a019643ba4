package graft

import org.apache.spark.sql.SparkSession

/** Session defaults for every session in the repo, specs included (the
  * harness mains, the collector, Explain, ScaleGen and the
  * test `SparkSpec`; only `perfbench`'s drain session still sets its own
  * confs) — ONE place, so a session-level fix cannot silently apply to
  * the bench but not the gate or the plan pins. These are also the
  * settings a cluster deployment of this library should carry. */
object Sessions {

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // cached plans must not pin the configured shuffle-partition count:
      // by default AQE is NOT allowed to re-partition a persist()'d
      // plan's output, so at cluster-scale settings (thousands of
      // partitions) every consumer of a cached frame pays
      // thousands-of-tasks stages over kilobyte partitions — measured
      // 5.4× on q_retrieval_eval at partitions=2048 and noise-neutral at
      // 32 (COVERAGE.md round 14)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
}
