package graft.sources

import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lake sink family (SURVEY §2.1 S9-S13): date-partitioned zstd parquet
  * with schema-versioned sibling outputs.
  *
  * Spark-first notes:
  *  - Atomic writes (reference S9, temp + rename `:697-708`) come free from
  *    Spark's commit protocol — every `df.write` stages to `_temporary/` and
  *    renames on task/job commit; nothing to hand-roll.
  *  - Parallel per-date writes (reference S12's ThreadPool ≤ 4, `:844-928`)
  *    are a single `partitionBy("date_path")` job — the cluster scheduler
  *    parallelizes across ALL partitions and executors, not 4 threads.
  *  - Sort-clustering before write (reference W1 `:859-860`) is
  *    `sortWithinPartitions`, which keeps the global shuffle out of the
  *    write path while preserving read locality within each file.
  *  - zstd + 1M row groups (reference `:97-99`) are reader/writer options.
  *
  * Schema versioning (S11, reference `:435-465`, `:795-819`): on a write
  * whose schema hash differs from the existing lake table's, write to a
  * `<table>_vN` sibling directory instead of merging or failing. Readers
  * can union versions back with `mergeSchema=true`.
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
    * files the way [[writeVersioned]] does for batch tables. Returns the
    * version number assigned to this hash (existing or newly minted);
    * idempotent per hash, so crash-replayed drains never double-mint. */
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

  /** Parquet bloom-filter sink: zstd write with a split-block bloom
    * filter per requested column (`parquet.bloom.filter.enabled#col`),
    * sized by that column's OWN expected NDV — sizing is per column
    * because one shared figure would leave a high-cardinality key with a
    * saturated filter (false-positive rate → 1, skipping silently dead)
    * while over-paying footer bytes on the low-cardinality ones. The
    * 100 TB role: point lookups on UNSORTED high-cardinality keys
    * (content hashes, doc ids, offsets) skip row groups via the footer
    * bloom without paying the global sort that min/max pruning
    * (writePartitioned's clustering, writeZOrdered) needs. Readers use
    * it whenever `spark.sql.parquet.filterPushdown` is on (default) and
    * parquet-mr's `parquet.filter.bloom.enabled` is not disabled, for
    * eq/IN predicates. */
  def writeBloom(df: DataFrame, dest: String, bloomNdv: Map[String, Long]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("compression", "zstd")
    bloomNdv.foldLeft(w) { case (acc, (c, ndv)) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(dest)
  }

  /** S9+S12+W1: sort-clustered, date-partitioned, zstd atomic write. */
  def writePartitioned(df: DataFrame, dest: String,
                       clusterBy: Seq[String] = Seq("user_id", "event_id")): Unit =
    df.sortWithinPartitions(clusterBy.map(col): _*)
      .write.mode(SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy("date_path")
      .parquet(dest)

  /** S11: write to `dest/<table>` if schema matches (or first write), else
    * to the next free `dest/<table>_vN`. Returns the chosen path. */
  def writeVersioned(df: DataFrame, dest: String, table: String): String = {
    val spark = df.sparkSession
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new Path(s"$dest/$table")
    val target =
      if (!fs.exists(base)) base
      else {
        val existing = spark.read.parquet(base.toString).schema
        if (schemaHash(existing) == schemaHash(df.schema)) base
        else {
          var n = 2
          while (fs.exists(new Path(s"$dest/${table}_v$n")) &&
            schemaHash(spark.read.parquet(s"$dest/${table}_v$n").schema) != schemaHash(df.schema)) n += 1
          new Path(s"$dest/${table}_v$n")
        }
      }
    df.write.mode(SaveMode.Append).option("compression", "zstd").parquet(target.toString)
    target.toString
  }

  /** Read a table back across ALL its schema versions (base + _vN),
    * union-by-name with missing columns nulled — the read-side complement
    * of writeVersioned (reference readers enumerate version files
    * `parquet_to_polars.py:544-574`). */
  def readAllVersions(spark: SparkSession, dest: String, table: String): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirs = Seq(s"$dest/$table") ++
      Iterator.from(2).map(n => s"$dest/${table}_v$n")
        .takeWhile(p => fs.exists(new Path(p)))
    dirs.filter(p => fs.exists(new Path(p)))
      .map(spark.read.parquet(_))
      .reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  /** S13: backup a lake path before a destructive rewrite (`R:620-651`). */
  def backup(spark: SparkSession, src: String, backupRoot: String, stamp: String): String = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(s"$backupRoot/$stamp/${new Path(src).getName}")
    fs.mkdirs(dst.getParent)
    FileUtil.copy(fs, new Path(src), fs, dst, false, spark.sparkContext.hadoopConfiguration)
    dst.toString
  }

  /** Small-file compaction — the lake-maintenance op a long-running
    * incremental ingest needs: every micro-batch/run appends files, and a
    * 100 TB lake that accretes thousands of KB-sized parquet files per
    * partition pays for them on every scan (task-per-file scheduling,
    * footer reads, no effective row-group pruning). Rewrites a path to
    * `ceil(rows / targetRowsPerFile)` files. With `clusterBy`, files are
    * RANGE-partitioned on the cluster keys and sorted within, so each file
    * tiles a narrow key range and parquet min/max stats actually prune
    * point/range scans (a round-robin shuffle would hand every file a
    * uniform sample of the whole domain — full-span stats, no pruning).
    * A row-unique tiebreaker (uniquified temp name, so it can never
    * collide with a user column) is appended to the range keys so a HOT
    * key (more rows than targetRowsPerFile) can still split across files
    * and the file-size contract holds even for constant/low-cardinality
    * cluster keys — adjacent files then share only that boundary key.
    * Caveat: the tiebreaker is `monotonically_increasing_id`, which is
    * NOT stable under task retry — a retried stage can land rows on the
    * other side of a sampled range boundary, skewing file BALANCE (never
    * content: every row still lands in exactly one file).
    * Same stage-and-swap as [[rewriteInPlace]] (atomic, crash-leaves-old). */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long,
              clusterBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
    val rows = spark.read.parquet(path).count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val tiebreak = s"_rr_tiebreak_${java.util.UUID.randomUUID().toString.take(8)}"
    rewriteInPlace(spark, path) { df =>
      if (clusterBy.isEmpty) df.repartition(nFiles)
      else df.withColumn(tiebreak, monotonically_increasing_id())
        .repartitionByRange(nFiles, (clusterBy.map(col) :+ col(tiebreak)): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
        .drop(tiebreak)
    }
  }

  /** Z-ordered layout: range-partition AND sort by the Morton interleave
    * of two keys ([[graft.plans.ZOrder2]], native codegen), so rows close
    * in EITHER dimension land in the same files and parquet min/max stats
    * prune scans filtered on either column — multi-dimensional clustering
    * a single-column sort cannot give. `nFiles` plays the
    * targetRowsPerFile role of [[compact]]. */
  def writeZOrdered(df: DataFrame, dest: String, keyA: String, keyB: String,
                    nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.plans.VectorExpressions.zorder2(col(keyA), col(keyB)).as("_z")
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(dest)
  }

  /** Safe in-place rewrite: Spark cannot overwrite a path it is reading, so
    * stage to `<path>.rewrite`, then swap via rename (reader-dedup E3's
    * backup+overwrite, `R:653-710`). */
  def rewriteInPlace(spark: SparkSession, path: String)(transform: DataFrame => DataFrame): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".rewrite")
    val old = new Path(path + ".old")
    transform(spark.read.parquet(path))
      .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(tmp.toString)
    fs.rename(new Path(path), old)
    fs.rename(tmp, new Path(path))
    fs.delete(old, true)
  }

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
