package graft.sources

import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The collector's lake helpers: the payload-schema lineage registry,
  * the `date_path` partition key, the data-file listing and the
  * streaming sink-log rebuild the drain runs, plus the bucketed table
  * write behind `q_edge_table`.
  *
  * Spark-first notes:
  *  - Atomic writes (reference S9, temp + rename `:697-708`) come free from
  *    Spark's commit protocol — every `df.write` stages to `_temporary/` and
  *    renames on task/job commit; nothing to hand-roll.
  *  - Parallel per-date writes (reference S12's ThreadPool ≤ 4, `:844-928`)
  *    are a single `partitionBy("date_path")` job — the cluster scheduler
  *    parallelizes across ALL partitions and executors, not 4 threads.
  *  - zstd + 1M row groups (reference `:97-99`) are reader/writer options.
  *
  * Schema versioning (S11, reference `:435-465`, `:795-819`): the
  * streaming sink appends into one directory, so a schema change is
  * recorded in the `_schema` lineage registry ([[recordSchemaVersion]])
  * and readers reconcile the versions with `mergeSchema=true`.
  */
object LakeWriter {

  /** Bucketed (hash-clustered) table write: `bucketBy(key) + sortBy(key)`
    * into the session catalog. The 100 TB co-location primitive the
    * reference lacks entirely: two tables bucketed on the same key with
    * the same bucket count join WITHOUT ANY SHUFFLE — each task zips
    * bucket i with bucket i (see BucketJoinSpec for the plan proof).
    * Amortizes one shuffle at write time across every subsequent join /
    * aggregation on the key. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int, path: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .option("compression", "zstd")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** md5-over-sorted-`name:type` schema fingerprint, 8 hex chars — the
    * reference's get_schema_hash (`:414-432`). */
  def schemaHash(schema: StructType): String = {
    val canon = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .sorted.mkString("|")
    MessageDigest.getInstance("MD5").digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
  }

  /** Append-only payload-schema lineage under `<dest>/_schema`: one
    * `v<N>_<hash>.json` (the schema's JSON rendering) per DISTINCT
    * schema observed at drain time — the reference's md5 versioning
    * (`:414-432`, `:435-465`) in registry form for the STREAMING sink,
    * which appends into one directory and cannot fork `_vN` sibling
    * tables. Returns the version number assigned to this hash (existing
    * or newly minted); idempotent per hash, so crash-replayed drains
    * never double-mint. */
  def recordSchemaVersion(spark: SparkSession, dest: String,
                          schema: StructType): Int = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$dest/_schema")
    val hash = schemaHash(schema)
    val existing: Seq[String] =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.matches("v\\d+_[0-9a-f]+\\.json")).sorted
      else Seq.empty
    existing.find(_.endsWith(s"_$hash.json")) match {
      case Some(name) => name.drop(1).takeWhile(_.isDigit).toInt
      case None =>
        val v = existing.map(_.drop(1).takeWhile(_.isDigit).toInt)
          .foldLeft(0)(math.max) + 1
        // atomic (tmp + rename): a crash mid-write must not leave a
        // truncated lineage file that poisons every later drain's
        // DataType.fromJson
        graft.streaming.IdBloom.atomicWrite(fs,
          new Path(dir, s"v${v}_$hash.json"), schema.json.getBytes("UTF-8"))
        v
    }
  }

  /** The recorded payload-schema lineage, oldest first: (version, hash,
    * schema) per entry — what a reader consults to decide whether a
    * `mergeSchema` read is needed (lineage size > 1). */
  def schemaLineage(spark: SparkSession, dest: String): Seq[(Int, String, StructType)] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$dest/_schema")
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.matches("v\\d+_[0-9a-f]+\\.json"))
      .map { p =>
        val v = p.getName.drop(1).takeWhile(_.isDigit).toInt
        val hash = p.getName.dropWhile(_ != '_').drop(1).stripSuffix(".json")
        val in = fs.open(p)
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes); in.close()
        (v, hash, org.apache.spark.sql.types.DataType.fromJson(
          new String(bytes, "UTF-8")).asInstanceOf[StructType])
      }.sortBy(_._1)
  }

  /** Derive the `date_path` PARTITION key from a timestamp col. Dash
    * format, deliberately: a slash in a partition VALUE gets
    * percent-escaped by Spark's path builder, so the reference's nested
    * `YYYY/MM/DD/` tree would come out as one flat, unreadable
    * `date_path=YYYY%2FMM%2FDD` level. The Spark-native mapping of that
    * tree is a single Hive-style date partition (`date_path=YYYY-MM-DD`)
    * — same pruning, same per-day file grouping; query-surface date
    * strings (q_date_partition etc.) keep the reference's slashed FORMAT
    * since they are values, not paths. */
  def withDatePath(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.withColumn("date_path", date_format(col(tsCol), "yyyy-MM-dd"))

  /** Committed data files under a lake directory, recursively — skipping
    * metadata (`_spark_metadata`, `_batches`, `_idbloom`, `_temporary`)
    * and hidden files. The listing a sink-log rebuild and the mixed-mode
    * guards reason over. */
  def listDataFiles(fs: FileSystem, dest: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dest)) Nil
    else fs.listStatus(dest).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .flatMap(st => if (st.isDirectory) listDataFiles(fs, st.getPath) else Seq(st))

  /** Rebuild a streaming FileStreamSink's `_spark_metadata` log so it
    * lists EXACTLY the data files currently under `dest`, replaying batch
    * ids 0..`latestBatchId` (empty deltas + the full listing at the
    * latest id) through Spark's own `FileStreamSinkLog`.
    *
    * Why this exists: every `spark.read.parquet(dest)` on a directory
    * with a sink log resolves THROUGH the log — files the log does not
    * list are silently invisible, and a log listing replaced/removed
    * files breaks reads. Two writers make the log stale by construction:
    * an in-place dedup rewrite (every part file replaced — the
    * CollectorMain deferred pass) and the inline keeper's plain
    * foreachBatch appends landing next to a log a previous deferred
    * drain created. Both call this after mutating the files.
    *
    * KNOWN LIMITATION (documented, judged acceptable): the rebuild
    * adopts EVERY data file under `dest` as committed output. Files a
    * FileStreamSink task attempt wrote before its executor crashed
    * (ManifestFileCommitProtocol writes to final paths; abortTask's
    * cleanup is best-effort and never runs on a kill -9) are
    * indistinguishable by name from keeper appends or foreign-writer
    * data, so a rebuild after such a crash can adopt a retried task's
    * first attempt alongside its successful one. The resume guard in
    * IngestPipeline.runFileIngest refuses the one window where this is
    * LIKELY (an in-flight batch with un-logged files); executor-crash
    * litter from an already-committed batch remains adoptable. A
    * deployment that cannot tolerate it should run one writer mode per
    * lake (pure deferred lakes never need this rebuild).
    *
    * `latestBatchId` must be ≥ the checkpoint's last committed batch if
    * a FileStreamSink drain may later resume against this lake (the sink
    * skips batch ids already in the log — a TOO-LOW id would make it
    * skip real batches). A pre-existing log is deleted first; the
    * crash window between delete and rebuild leaves NO log, which plain
    * readers treat as a normal parquet directory (all files visible) —
    * degraded to safe. */
  def rebuildSinkLog(spark: SparkSession, dest: String, latestBatchId: Long): Unit = {
    import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSinkLog, SinkFileStatus}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val destPath = new Path(dest)
    val metaDir = new Path(destPath, "_spark_metadata")
    if (fs.exists(metaDir)) fs.delete(metaDir, true)
    val entries = listDataFiles(fs, destPath).map(SinkFileStatus.apply).toArray
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, metaDir.toString, None)
    (0L to latestBatchId).foreach { b =>
      if (!log.add(b, if (b == latestBatchId) entries else Array.empty[SinkFileStatus]))
        throw new IllegalStateException(
          s"rebuilding $metaDir failed at batch $b — the lake files are " +
            "correct but the sink log is partial; rerun the rebuild")
    }
  }
}
