package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.Dedup
import graft.sources.LakeWriter

class LakeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("lake").toString

  test("schema hash is order-insensitive and type-sensitive") {
    val a = Tables(spark, sf001, "events").select("event_id", "user_id").schema
    val b = Tables(spark, sf001, "events").select("user_id", "event_id").schema
    val c = Tables(spark, sf001, "events")
      .select($"event_id".cast("int").as("event_id"), $"user_id").schema
    assert(LakeWriter.schemaHash(a) == LakeWriter.schemaHash(b))
    assert(LakeWriter.schemaHash(a) != LakeWriter.schemaHash(c))
    assert(LakeWriter.schemaHash(a).length == 8)
  }

  test("partitioned write produces date_path directories, rows survive") {
    val dest = tmpDir()
    val ev = LakeWriter.withDatePath(Tables(spark, sf001, "events"))
    LakeWriter.writePartitioned(ev, dest)
    val back = spark.read.parquet(dest)
    assert(back.count() == ev.count())
    // hive-style partition column restored
    assert(back.select("date_path").distinct().count() ==
      ev.select("date_path").distinct().count())
  }

  test("versioned sink: same schema appends, drifted schema gets _v2") {
    val dest = tmpDir()
    val ev = Tables(spark, sf001, "events").select("event_id", "user_id")
    val p1 = LakeWriter.writeVersioned(ev, dest, "events")
    val p2 = LakeWriter.writeVersioned(ev, dest, "events")
    assert(p1 == p2 && p1.endsWith("/events"))
    val drifted = ev.withColumn("extra", lit("x"))
    val p3 = LakeWriter.writeVersioned(drifted, dest, "events")
    assert(p3.endsWith("/events_v2"))
    // same drifted schema routes back to the existing v2
    assert(LakeWriter.writeVersioned(drifted, dest, "events").endsWith("/events_v2"))
    val all = LakeWriter.readAllVersions(spark, dest, "events")
    assert(all.columns.toSet == Set("event_id", "user_id", "extra"))
    assert(all.count() == ev.count() * 4)
  }

  test("staging sink + merge-phase anti-join (S10/J2 deferred dedup)") {
    val work = tmpDir()
    val ev = Tables(spark, sf001, "events").select("event_id", "user_id", "event_type")
    val lake = s"$work/lake"
    ev.filter($"event_id" < 500).write.parquet(lake)
    // phase 1: fast-append the (overlapping) fresh batch to staging
    // (reference deferred-dedup phase 1, `:652-686`)
    val staged = s"$work/.staging/events_sess1"
    ev.filter($"event_id" >= 300).write.mode("overwrite").option("compression", "zstd")
      .parquet(staged)
    // phase 2: merge — anti-join staged vs lake, append the remainder
    val fresh = Dedup.antiJoinNew(
      spark.read.parquet(staged), spark.read.parquet(lake), Seq("user_id", "event_id"))
    fresh.write.mode("append").parquet(lake)
    assert(spark.read.parquet(lake).count() == ev.count())
    assert(spark.read.parquet(lake).dropDuplicates("user_id", "event_id").count() == ev.count())
  }

  test("in-place rewrite swaps safely (reader-dedup E3)") {
    val dest = tmpDir() + "/t"
    val ev = Tables(spark, sf001, "events").select("event_id", "event_type", "props")
    ev.unionByName(ev).write.parquet(dest) // duplicated rows
    LakeWriter.rewriteInPlace(spark, dest)(df =>
      Dedup.dedupKeepFirst(df, Seq(col("event_type"), col("props")), col("event_id")))
    val back = spark.read.parquet(dest)
    assert(back.count() ==
      ev.select("event_type", "props").distinct().count())
  }

  test("z-ordered layout narrows BOTH columns' per-file ranges vs a single-column sort") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("zorder").toString
    // balanced two-dimensional grid — z-order's win case (the events
    // table's 15-value user_id has too few bits to register against a
    // 10-bit event_id in the interleave, which is itself a real lesson:
    // z-order pays off when the clustered columns have comparable
    // cardinality)
    val grid = spark.range(64).select($"id".as("a"))
      .crossJoin(spark.range(64).select($"id".as("b")))
    val nFiles = 16
    LakeWriter.writeZOrdered(grid, s"$work/z", "a", "b", nFiles)
    // baseline: same file count, sorted by a only
    grid.repartitionByRange(nFiles, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$work/single")
    def avgSpan(path: String, c: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("span"))
        .select($"span").as[Long].collect()
      spans.sum.toDouble / spans.length
    }
    // single-column sort: a-ranges tight but b spans the whole domain in
    // every file (avg 63); z-order must tile BOTH dimensions
    val zB = avgSpan(s"$work/z", "b")
    val sB = avgSpan(s"$work/single", "b")
    assert(zB < sB / 2, s"z-order b span $zB not < half of single-sort span $sB")
    assert(avgSpan(s"$work/z", "a") < 63.0, "z-order a span degenerated to full domain")
    assert(spark.read.parquet(s"$work/z").count() == grid.count())
  }

  test("compaction merges a fragmented path to sized, cluster-sorted files, rows intact") {
    import org.apache.spark.sql.functions.col
    val dest = java.nio.file.Files.createTempDirectory("compact").toString + "/events"
    val ev = Tables(spark, sf001, "events")
    // fragment: 50 files for a tiny table (the accreted-micro-batches shape)
    ev.repartition(50).write.parquet(dest)
    def dataFiles = new java.io.File(dest).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles == 50)
    LakeWriter.compact(spark, dest, targetRowsPerFile = ev.count() / 2 + 1,
      clusterBy = Seq("user_id", "ts"))
    assert(dataFiles == 2, s"expected 2 compacted files, got $dataFiles")
    val back = spark.read.parquet(dest)
    assert(back.count() == ev.count())
    // cluster-sort holds within each file
    import spark.implicits._
    val byFile = back
      .select(input_file_name().as("f"), col("user_id"), col("ts").cast("long").as("t"))
      .as[(String, Long, Long)].collect().groupBy(_._1).values.toSeq
    byFile.foreach { rows =>
      val keys = rows.map(r => (r._2, r._3)).toSeq
      assert(keys == keys.sorted, "rows not cluster-sorted within a file")
    }
    // files tile the lead-key domain (repartitionByRange), so per-file
    // min/max stats can prune — a round-robin shuffle would give every file
    // the full domain. Ranges may TOUCH at one boundary value (the range
    // key is the composite (user_id, ts), so one user_id can straddle a
    // split) but must never interleave.
    val ranges = byFile.map { rows => (rows.map(_._2).min, rows.map(_._2).max) }
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"file user_id ranges interleave: max $aMax vs next min $bMin")
      case _ =>
    }
  }

  test("compaction honors the file-size contract even when one cluster key owns every row") {
    import org.apache.spark.sql.functions.lit
    val dest = java.nio.file.Files.createTempDirectory("compacthot").toString + "/hot"
    val ev = Tables(spark, sf001, "events").withColumn("hot_key", lit(42L))
    ev.repartition(20).write.parquet(dest)
    // a pure repartitionByRange(clusterBy) would put ALL rows in one file;
    // the row-unique tiebreaker must still split the hot key into 4 files
    LakeWriter.compact(spark, dest, targetRowsPerFile = ev.count() / 4 + 1,
      clusterBy = Seq("hot_key"))
    val files = new java.io.File(dest).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files == 4, s"hot key collapsed the size contract: $files files")
    assert(spark.read.parquet(dest).count() == ev.count())
  }

  test("bloom sink writes a probe-able bloom filter; plain write has none") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def firstFooter(dir: String) = {
      val f = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).head
      ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
    }
    val docs = Tables(spark, sf001, "documents").coalesce(1)
    val dest = Files.createTempDirectory("bloom").toString + "/docs"
    LakeWriter.writeBloom(docs, dest, Map("doc_id" -> 10000L))
    val reader = firstFooter(dest)
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val chunk = block.getColumns.asScala
        .find(_.getPath.toDotString == "doc_id").get
      assert(chunk.getBloomFilterOffset >= 0, "doc_id column chunk lacks a bloom filter")
      // probe: a present key must hit (bloom filters have no false negatives)
      val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
      val present = Tables(spark, sf001, "documents").select($"doc_id").as[Long].head()
      assert(bloom.findHash(bloom.hash(present)), "present key must probe positive")
    } finally reader.close()
    // control: the plain sink writes no bloom metadata
    val plain = Files.createTempDirectory("plainpq").toString + "/docs"
    docs.write.parquet(plain)
    val r2 = firstFooter(plain)
    try {
      val c2 = r2.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "doc_id").get
      assert(c2.getBloomFilterOffset < 0, "plain write unexpectedly has a bloom filter")
    } finally r2.close()
    assert(spark.read.parquet(dest).count() == docs.count())
  }
}
