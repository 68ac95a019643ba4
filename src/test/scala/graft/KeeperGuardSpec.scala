package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.IngestPipeline

/** The inline keeper's scale-safety + mixed-mode contracts: the persisted
  * id-bloom guard (all-new batches read NO lake state), the `_batches`
  * marker-ledger replay protocol (including the `_temporary`-only crash
  * state that used to wedge the drain on schema inference), the writer
  * stamp, and the `_spark_metadata` reconciliation between the inline
  * keeper and the deferred FileStreamSink drain. */
class KeeperGuardSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(StructField("k", LongType)))
  private def events: DataFrame = Tables(spark, sf001, "events")
  private def slice(lo: Long, hi: Long): DataFrame =
    events.filter(col("event_id") >= lo && col("event_id") < hi)
  private def keeper(batch: DataFrame, dest: String, ckpt: String, id: Long): Unit =
    IngestPipeline.keeperBatch(spark, batch, id, payloadSchema, dest, ckpt,
      "zstd", Seq("event_id"), "ts", 1L << 22, 0.001)
  private def lakeCount(dest: String): Long = spark.read.parquet(dest).count()

  test("bloom guard: an all-new drain reads no lake data (unreadable-file trick)") {
    val work = Files.createTempDirectory("keeperbloom").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    slice(0, 50).write.parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, ckpt)
    assert(lakeCount(dest) == 50)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dest/_idbloom/_sizing")),
      "the drain must persist the id-bloom guard")

    // poison a data file inside a real partition: any lake READ now fails
    // loudly, while listings and appends still work — the second, all-new
    // drain passing proves the bloom fast path never scans the lake
    val part = new java.io.File(dest).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date_path=")).head
    val poison = new java.io.FileOutputStream(s"${part.getPath}/part-poison.parquet")
    poison.write("not parquet".getBytes); poison.close()
    intercept[Exception] { lakeCount(dest) }

    slice(50, 80).write.mode("append").parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, ckpt)
    assert(new java.io.File(s"${part.getPath}/part-poison.parquet").delete())
    assert(lakeCount(dest) == 80, "the all-new batch must land through the bloom miss path")

    // a third drain REDELIVERING old ids plus new ones: bloom hits pay
    // the exact confirm, only the genuinely new rows land
    slice(0, 50).unionAll(slice(80, 90)).write.mode("append").parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, ckpt)
    assert(lakeCount(dest) == 90, "redelivered ids must drop via bloom hit → exact confirm")
    assert(spark.read.parquet(dest).select("event_id").distinct().count() == 90)
  }

  test("crash replay: full-append-no-done converges; append-nothing crash lands everything") {
    val work = Files.createTempDirectory("keepercrash").toString
    val dest = s"$work/lake"; val ckpt = s"$work/ckpt" // no checkpoint metadata: direct calls
    keeper(slice(0, 20), dest, ckpt, 0)
    assert(lakeCount(dest) == 20)

    // crash AFTER the batch-1 append but BEFORE the done marker: replay
    // must anti-join every landed key and append nothing
    keeper(slice(20, 40), dest, ckpt, 1)
    assert(new java.io.File(s"$dest/_batches/1.done").delete())
    keeper(slice(20, 40), dest, ckpt, 1)
    assert(lakeCount(dest) == 40, "replay after a completed append must be a no-op")
    assert(spark.read.parquet(dest).select("event_id").distinct().count() == 40)
    assert(new java.io.File(s"$dest/_batches/1.done").exists(), "replay re-stamps done")

    // crash BEFORE any append (started marker only): replay lands the batch
    assert(new java.io.File(s"$dest/_batches/2.started").createNewFile())
    keeper(slice(40, 60), dest, ckpt, 2)
    assert(lakeCount(dest) == 60)

    // done marker present: the whole batch no-ops (two fs probes)
    keeper(slice(40, 60), dest, ckpt, 2)
    assert(lakeCount(dest) == 60)
  }

  test("crash between append and bloom write: replay re-blooms the landed keys") {
    // the insidious window: batch 3 landed every row, then crashed BEFORE
    // its bloom generation/sizing writes. The replay's anti-join appends
    // nothing — but it must still merge the batch's keys into the guard,
    // or every future redelivery of them bloom-misses and APPENDS A
    // DUPLICATE (a miss is trusted as definitely-new)
    val work = Files.createTempDirectory("keeperbloomcrash").toString
    val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    keeper(slice(0, 20), dest, ckpt, 0)
    val sizingAfter0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/_idbloom/_sizing"))
    keeper(slice(20, 40), dest, ckpt, 1)
    // reconstruct the crash state: gen 1 + done marker gone, sizing
    // rolled back to its pre-batch content (all three land after the
    // append, so a crash in that window leaves exactly this)
    assert(new java.io.File(s"$dest/_idbloom/1").delete())
    assert(new java.io.File(s"$dest/_batches/1.done").delete())
    // raw rewrites must drop the local FS's checksum sidecar too, or the
    // next hadoop read fails on the stale .crc
    new java.io.File(s"$dest/_idbloom/._sizing.crc").delete()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dest/_idbloom/_sizing"), sizingAfter0)
    keeper(slice(20, 40), dest, ckpt, 1) // replay: appends nothing, re-blooms
    assert(lakeCount(dest) == 40)
    // the redelivery probe must now HIT and confirm-drop, not re-append
    keeper(slice(20, 40), dest, ckpt, 2)
    assert(lakeCount(dest) == 40, "landed-but-unbloomed keys must not re-admit")
    assert(spark.read.parquet(dest).select("event_id").distinct().count() == 40)
  }

  test("a first-batch crash leaving only _temporary litter no longer wedges the drain") {
    val work = Files.createTempDirectory("keepertmp").toString
    val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    // reconstruct the dead-end state: dest exists, holds ONLY the
    // writer's uncommitted _temporary litter, batch 0 started — the old
    // bare fs.exists + spark.read.parquet(dest) threw 'unable to infer
    // schema' here on EVERY replay until a human deleted dest
    // (uncommitted task-attempt litter lives under _temporary/0/_temporary/
    // in the v1 committer layout — the next job commit ignores it)
    assert(new java.io.File(s"$dest/_temporary/0/_temporary/attempt_crashed").mkdirs())
    val junk = new java.io.FileOutputStream(
      s"$dest/_temporary/0/_temporary/attempt_crashed/task-junk")
    junk.write("partial".getBytes); junk.close()
    assert(new java.io.File(s"$dest/_batches").mkdirs())
    assert(new java.io.File(s"$dest/_batches/0.started").createNewFile())
    keeper(slice(0, 30), dest, ckpt, 0)
    assert(lakeCount(dest) == 30, "the replay must land the batch, not wedge on inference")
  }

  test("a reset/foreign checkpoint fails loudly instead of silently no-opping") {
    val work = Files.createTempDirectory("keeperwriter").toString
    val src = s"$work/src"; val dest = s"$work/lake"
    slice(0, 20).write.parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, s"$work/ckptA")
    assert(lakeCount(dest) == 20)
    // a FRESH checkpoint restarts batchIds at 0; without the stamp its
    // batch 0 would no-op against the old done marker (data loss)
    val e = intercept[Exception] {
      IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
        dest, s"$work/ckptB")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("belongs to stream")), messages(e).mkString("; "))
  }

  test("inline keeper after a deferred drain rebuilds the sink log — every row stays visible") {
    val work = Files.createTempDirectory("keepermixed1").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    slice(0, 40).write.parquet(src)
    IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dest/_spark_metadata")))
    assert(lakeCount(dest) == 40)
    // keeper drain resumes the SAME checkpoint over the log-bearing lake:
    // its plain appends land outside the log — without the end-of-drain
    // rebuild every read through the log would hide them
    slice(40, 70).write.mode("append").parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, ckpt)
    assert(lakeCount(dest) == 70,
      "keeper appends must be visible through the rebuilt sink log")
    assert(spark.read.parquet(dest).select("event_id").distinct().count() == 70)

    // REDELIVERY after the mixed drain — the round-13 blind spot: the
    // keeper's bloom/sizing were built while its own appends were still
    // outside the sink log, so a directory read at build time would have
    // seen only the deferred drain's 40 keys; keys 40-70 would then be
    // bloom-invisible and every redelivery of them trusted as
    // definitely-new (silent duplicates). The explicit-file-list reads
    // make the guard see the whole lake.
    slice(40, 70).unionAll(slice(70, 80)).write.mode("append").parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, ckpt)
    assert(lakeCount(dest) == 80,
      "keys landed during the mixed drain must not re-admit on redelivery")
    assert(spark.read.parquet(dest).select("event_id").distinct().count() == 80)
  }

  test("deferred resume: the sink's one-batch crash window heals; a foreign checkpoint is refused") {
    val work = Files.createTempDirectory("keeperwindow").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    slice(0, 40).write.parquet(src)
    IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    assert(lakeCount(dest) == 40)
    // reconstruct the crash BETWEEN the sink's log write and the
    // checkpoint commit: the log runs exactly one batch ahead of the
    // commits. Normal Spark recovery replays that batch and the sink
    // skips the already-logged id — the guard must allow it, not wedge
    // the checkpoint in a permanent IllegalStateException.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty && commits.last.delete())
    new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc").delete()
    IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    assert(lakeCount(dest) == 40, "crash-window recovery must not duplicate the batch")
    assert(spark.read.parquet(dest).select("event_id").distinct().count() == 40)

    // a FRESH checkpoint never started the logged batch — the sink would
    // swallow its first real batches as 'already committed': refuse
    val e = intercept[IllegalStateException] {
      IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema,
        dest, s"$work/ckptFresh")
    }
    assert(e.getMessage.contains("crash window"), e.getMessage)
  }

  test("deferred mode refuses a foreign checkpoint via the shared writer stamp") {
    // the crash-window relaxation admits a log one batch ahead of the
    // commits — which a FOREIGN non-fresh checkpoint could satisfy by
    // coincidence and have its replayed batch swallowed by the sink.
    // The `_writer` stamp (shared with the keeper) closes the class:
    // lake ownership is explicit, not inferred from batch-id arithmetic.
    val work = Files.createTempDirectory("deferredwriter").toString
    slice(0, 30).write.parquet(s"$work/srcA")
    IngestPipeline.runFileIngest(spark, s"$work/srcA", events.schema, payloadSchema,
      s"$work/lakeA", s"$work/ckptA")
    assert(new java.io.File(s"$work/lakeA/_batches/_writer").exists(),
      "a completed deferred drain must stamp the lake")
    // a second, UNRELATED checkpoint (non-fresh: it owns lakeB)
    slice(30, 40).write.parquet(s"$work/srcB")
    IngestPipeline.runFileIngest(spark, s"$work/srcB", events.schema, payloadSchema,
      s"$work/lakeB", s"$work/ckptB")
    val e = intercept[IllegalStateException] {
      IngestPipeline.runFileIngest(spark, s"$work/srcB", events.schema, payloadSchema,
        s"$work/lakeA", s"$work/ckptB")
    }
    assert(e.getMessage.contains("belongs to stream"), e.getMessage)
  }

  test("deferred resume refuses the in-flight-batch + un-logged-files ambiguity") {
    // an in-flight batch (offsets written, never committed) may have
    // left its own sink data files UNLOGGED (tasks commit files before
    // the job writes the log entry) — indistinguishable from keeper
    // appends, and logging them would duplicate the batch's rows on
    // replay. The resume must refuse and route recovery through the
    // keeper drain.
    val work = Files.createTempDirectory("deferredinflight").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    slice(0, 40).write.parquet(src)
    IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    // reconstruct the crash state: batch 1 started (offsets entry) but
    // neither logged nor committed, with one un-logged data file in the
    // lake (its partial sink output / a keeper append — unknowable)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$ckpt/offsets/0"),
      java.nio.file.Paths.get(s"$ckpt/offsets/1"))
    val part = new java.io.File(dest).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date_path=")).head
    val logged = part.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(logged.toPath,
      java.nio.file.Paths.get(s"${part.getPath}/part-orphan-copy.zstd.parquet"))
    val e = intercept[IllegalStateException] {
      IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    }
    assert(e.getMessage.contains("in-flight"), e.getMessage)
  }

  test("mixed multi-batch: batch N's guard sees batch N-1's un-logged appends") {
    // two keeperBatch calls on a LOG-BEARING lake with NO log rebuild in
    // between (inside a drain the reconcile only runs at the end): batch
    // N+1 redelivers batch N's keys, which exist only as un-logged
    // appends — the anti-join and bloom must still exclude them
    val work = Files.createTempDirectory("keepermixedmb").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    slice(0, 40).write.parquet(src)
    IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    keeper(slice(40, 60), dest, ckpt, 100)
    keeper(slice(40, 60).unionAll(slice(60, 70)), dest, ckpt, 101)
    // the stale log still lists only the deferred batch — read the lake
    // by explicit file list, exactly like the guard does
    val files = graft.sources.LakeWriter
      .listDataFiles(fs, new org.apache.hadoop.fs.Path(dest))
      .map(_.getPath.toString)
    val lake = spark.read.parquet(files: _*)
    assert(lake.count() == 70, "batch 101 must drop batch 100's redelivered keys")
    assert(lake.select("event_id").distinct().count() == 70)
  }

  test("deferred drain over keeper files: rebuilds with checkpoint commits, refuses fresh") {
    val work = Files.createTempDirectory("keepermixed2").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    slice(0, 40).write.parquet(src)
    IngestPipeline.runFileIngestKeeper(spark, src, events.schema, payloadSchema,
      dest, ckpt)
    assert(lakeCount(dest) == 40)
    // same-checkpoint resume in DEFERRED mode: the keeper's un-logged
    // files anchor a log rebuild at the last committed batch, then the
    // FileStreamSink appends the new batch — nothing hidden either way
    slice(40, 70).write.mode("append").parquet(src)
    IngestPipeline.runFileIngest(spark, src, events.schema, payloadSchema, dest, ckpt)
    assert(lakeCount(dest) == 70,
      "keeper-written rows must stay visible after the deferred resume")

    // a FRESH checkpoint has no anchor id: seeding a log would make the
    // sink skip its first batches as committed — must refuse loudly
    val work2 = Files.createTempDirectory("keepermixed3").toString
    slice(0, 10).write.parquet(s"$work2/src")
    IngestPipeline.runFileIngestKeeper(spark, s"$work2/src", events.schema,
      payloadSchema, s"$work2/lake", s"$work2/ckpt")
    val e = intercept[IllegalStateException] {
      IngestPipeline.runFileIngest(spark, s"$work2/src", events.schema,
        payloadSchema, s"$work2/lake", s"$work2/ckptFresh")
    }
    assert(e.getMessage.contains("sink log"), e.getMessage)
  }

  test("genBroadcast cache: unchanged generation reuses the handle; a new generation replaces it") {
    import org.apache.hadoop.fs.FileSystem
    import org.apache.spark.util.sketch.BloomFilter
    import graft.streaming.IdBloom
    val dir = Files.createTempDirectory("idbloom-bc").toString
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(IdBloom.genBroadcast(fs, dir).isEmpty, "fresh lake must yield no handle")
    val bf1 = BloomFilter.create(1000, 0.01); bf1.putLong(1L)
    IdBloom.writeGen(fs, dir, 1L, bf1)
    val b1 = IdBloom.genBroadcast(fs, dir).get
    // unchanged generation: the SAME broadcast comes back (no re-read,
    // no re-push)
    assert(IdBloom.genBroadcast(fs, dir).get eq b1)
    assert(b1.value.mightContainLong(1L) && !b1.value.mightContainLong(2L))
    // a new generation invalidates the entry and mints a fresh handle
    val bf2 = BloomFilter.create(1000, 0.01); bf2.putLong(2L)
    IdBloom.writeGen(fs, dir, 2L, bf2)
    val b2 = IdBloom.genBroadcast(fs, dir).get
    assert(!(b2 eq b1) && b2.value.mightContainLong(2L) && !b2.value.mightContainLong(1L))
    // the probe column consumes the cached handle end-to-end
    import spark.implicits._
    val hits = Seq(1L, 2L, 3L).toDF("id")
      .filter(IdBloom.probe(b2, col("id")))
      .as[Long].collect().toSet
    assert(hits.contains(2L) && !hits.contains(1L), s"probe off the cached handle broke: $hits")
    // a torn newest generation (gen 2 overwritten with junk bytes, what a
    // crash on a filesystem without atomic rename leaves) falls back to
    // the previous readable one: gen 1's filter comes back
    val torn = new java.io.FileOutputStream(s"$dir/_idbloom/2")
    torn.write("torn bloom bytes".getBytes); torn.close()
    val back = IdBloom.genBroadcast(fs, dir)
    assert(back.exists(b => b.value.mightContainLong(1L) && !b.value.mightContainLong(2L)),
      s"a torn newest generation must fall back to gen 1's filter, got $back")
  }

  test("genBroadcast cache eviction: resharding drops stale shard keys; the LRU cap bounds many-lake drivers") {
    import org.apache.hadoop.fs.FileSystem
    import org.apache.spark.util.sketch.BloomFilter
    import graft.streaming.IdBloom
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def bf(x: Long) = { val b = BloomFilter.create(1000, 0.01); b.putLong(x); b }
    val oldCap = IdBloom.bcCacheCap
    try {
      // LRU cap: with cap 2, a third LAKE evicts the least-recently-used
      // entry, not the freshest one
      IdBloom.clearBcCache()
      IdBloom.bcCacheCap = 2
      val lakes = (1 to 3).map(_ => Files.createTempDirectory("idbloom-lru").toString)
      lakes.foreach { d =>
        IdBloom.writeGen(fs, d, 1L, bf(1))
        assert(IdBloom.genBroadcast(fs, d).isDefined)
      }
      val keys = IdBloom.cachedKeys
      assert(keys.size <= 2 && !keys.contains(lakes(0)) &&
        keys.contains(lakes(2)), s"LRU cap broke: $keys")
      // an evicted entry is a plain cache miss — the next probe re-reads
      // and re-broadcasts the generation, values intact
      val back = IdBloom.genBroadcast(fs, lakes(0))
      assert(back.isDefined && back.get.value.mightContainLong(1L))
    } finally { IdBloom.bcCacheCap = oldCap; IdBloom.clearBcCache() }
  }
}
