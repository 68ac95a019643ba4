package graft

import graft.ingest.GraftConfig

/** The reference env-var table round-trips with the reference's defaults
  * and truthiness rules (`redpanda_to_parquet_collector.py:80-103`), and
  * its session confs reach the parquet writer. */
class GraftConfigSpec extends SparkSpec {

  test("empty env yields the reference defaults") {
    val c = GraftConfig.fromEnv(Map.empty)
    assert(c == GraftConfig())
    assert(c.batchSize == 1000000L && c.maxWorkers == 4)
    assert(c.skipExistingCheck && c.skipDeduplication && !c.skipValidation)
    assert(c.parquetCompression == "zstd" && c.compressionLevel == 3)
    assert(c.maxMessages.isEmpty)
  }

  test("truthiness matches the python rule: {true,1,yes} case-insensitive, else false") {
    for (t <- Seq("true", "TRUE", "1", "yes", "Yes"))
      assert(GraftConfig.fromEnv(Map("SKIP_VALIDATION" -> t)).skipValidation, t)
    for (f <- Seq("false", "0", "no", "on", "y", "true ")) // trailing space: false, like python
      assert(!GraftConfig.fromEnv(Map("SKIP_VALIDATION" -> f)).skipValidation, f)
  }

  test("MAX_MESSAGES: unset and empty are None (python empty-string falsiness), set parses") {
    assert(GraftConfig.fromEnv(Map.empty).maxMessages.isEmpty)
    assert(GraftConfig.fromEnv(Map("MAX_MESSAGES" -> "")).maxMessages.isEmpty)
    assert(GraftConfig.fromEnv(Map("MAX_MESSAGES" -> "500")).maxMessages.contains(500L))
  }

  test("derived spark confs and kafka options carry the tuned values") {
    val c = GraftConfig.fromEnv(Map(
      "BOOTSTRAP_SERVERS" -> "b:9092", "PARQUET_COMPRESSION" -> "snappy",
      "FETCH_MIN_BYTES" -> "1024"))
    assert(c.sparkConfs("spark.sql.parquet.compression.codec") == "snappy")
    // parquet-mr's level key, not the shuffle codec's spark.io.compression.zstd.level
    assert(GraftConfig.fromEnv(Map("COMPRESSION_LEVEL" -> "19"))
      .sparkConfs("parquet.compression.codec.zstd.level") == "19")
    assert(GraftConfig().sparkConfs("parquet.compression.codec.zstd.level") == "3")
    assert(c.kafkaOptions == Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "kafka.fetch.min.bytes" -> "1024",
      "kafka.max.partition.fetch.bytes" -> "52428800"))
  }

  test("sparkConfs carries the Sessions policy, and PARQUET_COMPRESSION still overrides the codec") {
    // a caller-built drain session gets the policy only through the config
    val policy = GraftConfig().sparkConfs
    for ((k, v) <- Sessions.confs) assert(policy.get(k).contains(v), k)
    val snappy = GraftConfig.fromEnv(Map("PARQUET_COMPRESSION" -> "snappy")).sparkConfs
    assert(snappy("spark.sql.parquet.compression.codec") == "snappy")
    assert(snappy("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("COMPRESSION_LEVEL reaches the zstd parquet writer: level 19 files are smaller than level 1") {
    import org.apache.spark.sql.functions._
    // compressible text with too many distinct values for a dictionary page
    val frame = spark.range(0, 200000, 1, 1).select(format_string(
      "user=%d action=%s item=%d", col("id") % 1000,
      element_at(array(lit("view"), lit("click"), lit("buy")), (col("id") % 3 + 1).cast("int")),
      col("id")).as("line"))
    def bytesAt(level: Int): Long = {
      val confs = GraftConfig(compressionLevel = level).sparkConfs
      val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val dir = java.nio.file.Files.createTempDirectory(s"zstd$level").toString + "/t"
      try {
        frame.write.parquet(dir)
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(dir))
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      } finally {
        before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
      }
    }
    val (l1, l19) = (bytesAt(1), bytesAt(19))
    assert(l19 < l1, s"zstd level 19 wrote $l19 bytes, level 1 wrote $l1")
  }
}
