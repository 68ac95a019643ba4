package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.TextFunctions._

/** Streaming NEAR-dup admission control — the Structured-Streaming twin of
  * `q_dedup_incremental_lsh` (and the near-dup complement of Spark's
  * exact-key `dropDuplicatesWithinWatermark`): each micro-batch
  * of documents is MinHash-banded, joined batch-bands ⋈ lake-bands (never
  * lake × lake), candidate pairs verified with exact shingle Jaccard, and
  * only novel documents are admitted to the lake together with their band
  * index and shingle store.
  *
  * Reference relation: the reference's ingest dedups on exact payload
  * identity only (`redpanda_to_parquet_collector.py:468-530` anti-join);
  * near-dup admission at ingest time is the LLM-corpus extension — the
  * same banded no-all-pairs discipline as the batch LSH family
  * (DedupQueries), run continuously.
  *
  * Identity contract — FIRST WRITE WINS per doc_id: a redelivered doc_id
  * is dropped whatever its text says (an upstream producer that reuses an
  * id with new content is an id collision, resolved deterministically in
  * favor of the first admission). The guard is a PERSISTED Bloom filter
  * over admitted ids (`_idbloom/<batchId>`, a constant few MB read per
  * batch): bloom misses are definitely-new and skip every lake read;
  * only bloom hits — true redeliveries plus the configured false-positive
  * sliver — pay one exact column-pruned anti-join against the docs
  * relation. A false positive can therefore never drop a new document,
  * and the normal all-new batch touches no lake-proportional state at
  * all. The `_idbloom/_sizing` ledger keeps ONE (items, fpp) sizing per
  * lake (a mismatched merge fails loudly) plus the admitted-doc count;
  * at half capacity the bloom is rebuilt at 4× from the docs relation —
  * one column-pruned id scan per capacity DOUBLING (amortized O(log n)
  * over the lake's lifetime) instead of fpp silently saturating and
  * every batch degrading back into the exact confirm read. Past a few
  * hundred MB of bloom even the broadcast-probe transport (one torrent
  * push per executor per generation) plus the per-doubling full rebuild
  * scan get heavy — so
  * once a monolith rebuild would exceed `shardMaxItems` the rebuild
  * SPLITS the guard into power-of-two id-RANGE shards instead
  * ([[IdBloom.rebuild]]): each shard keeps its own generation chain
  * under `_idbloom/s<shard>/`, a batch loads only the shards its own
  * doc_ids touch, and with locality-bearing ids (monotonic producers)
  * per-batch probe I/O stays constant as the lake grows. Skewed ids
  * overfill a shard and degrade its fpp (more exact confirms); the
  * degradation mode either way is performance, never a dropped or
  * duplicated document.
  *
  * Scale shape per batch:
  *   - batch bands ⋈ lake band index is an equi-join on (band, bkey) —
  *     AQE broadcasts the (small) batch side here, degrading to a
  *     shuffled equi-join when batches are large; the lake side is NEVER
  *     self-joined.
  *   - exact-Jaccard verification touches only candidate pairs, joining
  *     the shingle store on doc_id (candidate-proportional, not
  *     corpus-proportional).
  *   - in-batch duplicates use the same band self-join restricted to the
  *     batch (bounded by batch size, not lake size).
  *   - the lake keeps three append-only parquet relations: admitted docs,
  *     their (doc_id, band, bkey) index rows, and their shingle sets. At
  *     100 TB the band index is the only relation the hot join reads, and
  *     it carries 8 rows × ~24 bytes per admitted doc.
  *
  * Exactly-once, batchId-keyed (the cheap guard): `foreachBatch` may
  * re-run a batch after a crash, so idempotence is keyed on the
  * checkpoint's batchId through a tiny `_batches` marker ledger —
  * `<id>.started` lands (hsync'd best-effort) before any append,
  * `<id>.done` after the last — and three cases fall out:
  *   - done marker present → the batch fully landed; the replay returns
  *     immediately (two file-exists probes, ZERO lake scans).
  *   - neither marker → a genuinely new batch: the lake cannot contain
  *     any of this batch's rows, so every append is a plain append and
  *     NO append anti-joins its target — beyond the id-bloom probe the
  *     fast path never reads the lake's docs relation
  *     (NearDupStreamSpec proves it against a deliberately unreadable
  *     docs file). This is what bounds per-batch I/O: the old design
  *     re-read the full lake doc_id column four times per micro-batch —
  *     gigabytes per batch at a billion-doc lake.
  *   - started without done → a genuine crash replay, the RARE path: the
  *     lake may hold this batch's partial appends, so the replay runs
  *     per-target anti-joined appends, and candidate self-pair exclusion
  *     so partially appended index rows cannot shadow their own
  *     documents. Survivor selection is deterministic (min-doc_id
  *     greedy) and the id guard is the SAME first-write-wins bloom probe
  *     as the fast path, so the re-derived survivors are identical and
  *     the lake converges from any crash point; the appends run
  *     index-first / docs-LAST, then the bloom update, then the done
  *     marker — each step's replay is covered by the step after it. The
  *     spec replays the worst case (index rows written, docs not).
  *
  * Durability assumption, stated: the `.started` marker is created with a
  * best-effort hsync before the first append. On a filesystem that loses
  * the unsynced marker in a crash WHILE retaining later-written parquet
  * appends (no ordering guarantee at all), a replay could take the fast
  * path over a partially appended batch; HDFS/object-store semantics and
  * any POSIX fs with ordered metadata satisfy the requirement.
  *
  * One writer per lake, ENFORCED: batchIds are unique per CHECKPOINT, so
  * two streams with different checkpoints must not share a lakeDir — and
  * since a reset checkpoint restarts batchIds at 0 (where the old done
  * markers would silently swallow the new batches), the lake carries a
  * `_batches/_writer` stamp of its stream's persistent query id, checked
  * before the done-marker fast path; a foreign stream fails loudly.
  *
  * In-batch policy: a document is dropped when a VERIFIED near-dup with a
  * smaller doc_id exists in the same batch — the pessimistic greedy (a
  * chain a~b, b~c with a≁c drops both b and c). This matches the
  * cross-batch rule (an earlier admitted copy shadows later ones) and
  * needs no connected-components pass inside the hot loop; the offline
  * `q_dedup_clusters` pipeline is the exact-clustering counterpart.
  */
object NearDupStream {

  private val MinhashK = 16
  private val Bands = 8

  /** doc-id'd shingle sets with the batch LSH family's exact recipe
    * (3-token shingles — the `shingled` frame of DedupQueries). The
    * shingles() helper clamps to at least ONE shingle — a document too
    * short for a 3-shingle carries its whole text as a singleton — so
    * even sub-3-token docs band-match their content duplicates instead
    * of vanishing from the index with an empty signature. */
  private def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens("text"))
      .select(col("doc_id"), shingles("toks", 3).as("sh"))

  private def bandRows(sh: DataFrame): DataFrame =
    sh.withColumn("mh", minhashSignature("sh", MinhashK))
      .select(col("doc_id"), posexplode(bandKeys("mh", Bands)).as(Seq("band", "bkey")))

  private def readOr(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(path))) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  // Bloom/ledger mechanics live in [[IdBloom]] — shared with the inline
  // keeper's id guard (IngestPipeline.runFileIngestKeeper). The sizing
  // ledger (`_idbloom/_sizing`) keeps the one (items, fpp) every
  // generation must share for mergeInPlace, the approximate admitted-doc
  // count that triggers the capacity rebuild ([[maintain]] backfills the
  // exact docs count), and the shard width (0 = unsharded). Absent on
  // lakes created before the ledger existed; adopted (count 0) on their
  // next batch.
  private def atomicWrite(fs: FileSystem, dest: Path, bytes: Array[Byte]): Unit =
    IdBloom.atomicWrite(fs, dest, bytes)

  private def readSmall(fs: FileSystem, p: Path): String = IdBloom.readSmall(fs, p)

  /** Verified near-dup pairs (left_id, right_id) given candidate pairs and
    * a shingle lookup per side. */
  private def verified(cand: DataFrame, leftSh: DataFrame, rightSh: DataFrame,
                       threshold: Double): DataFrame = {
    val sa = leftSh.select(col("doc_id").as("left_id"), col("sh").as("sha"))
    val sb = rightSh.select(col("doc_id").as("right_id"), col("sh").as("shb"))
    cand.join(sa, "left_id").join(sb, "right_id")
      .withColumn("inter", expr("size(array_intersect(sha, shb))"))
      .withColumn("jac",
        col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("left_id"), col("right_id"))
  }

  /** Test seam, the [[IngestPipeline.keeperStepHook]] twin for this
    * protocol: invoked between [[processBatch]]'s steps with (lakeDir,
    * step), step ∈ started / bands-appended / shingles-appended /
    * docs-appended / guard-written / sizing-written. Crash-point specs
    * install a throwing hook; the lakeDir key isolates concurrent
    * suites. No-op in production. */
  @volatile private[graft] var nearDupStepHook: (String, String) => Unit = (_, _) => ()

  /** One micro-batch of near-dup admission against `lakeDir` (exposed for
    * deterministic spec replay; `run` wires it into foreachBatch with the
    * checkpoint's batchId). Idempotent per batchId — see the marker-ledger
    * and first-write-wins contracts in the object scaladoc. */
  /* shardMaxItems default, derived empirically in the plan-literal era
   * (a 2^22-item/0.001 bloom is ~7.5 MB serialized; the pre-broadcast
   * probe hex-rendered it into every explain string and shipped it in
   * every probe stage's task binary, and 2^28 monoliths OOM'd the
   * driver on explain). The probe now ships as a broadcast variable
   * ([[graft.plans.BroadcastBloomMightContain]]) so plan strings and
   * task binaries carry only a handle — but 2^24 stays the right split
   * point: past ~30 MB per filter the per-doubling full-lake rebuild
   * scan and the per-generation torrent push dominate, while range
   * shards keep both proportional to the batch's touched key range. */
  def processBatch(batch: DataFrame, lakeDir: String, batchId: Long,
                   threshold: Double = 0.5,
                   bloomItems: Long = 1L << 22, bloomFpp: Double = 0.001,
                   writerId: Option[String] = None,
                   shardMaxItems: Long = 1L << 24): Unit = {
    val spark = batch.sparkSession
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // ONE WRITER PER LAKE, enforced (not just documented): batchIds are
    // only unique per checkpoint, so a reset checkpoint (or a second
    // stream pointed at an existing lakeDir) restarts them at 0 — and
    // without this stamp the old done markers would match and whole new
    // batches silently no-op as "already landed". The stamp is checked
    // BEFORE the done-marker early return for exactly that reason, and
    // a mismatch fails loudly: recovering means either restoring the
    // original checkpoint or retiring the lake, never dropping data.
    val writerFile = new Path(s"$lakeDir/_batches/_writer")
    writerId.foreach { id =>
      if (fs.exists(writerFile)) {
        val existing = readSmall(fs, writerFile).trim
        if (existing != id) throw new IllegalStateException(
          s"lake $lakeDir belongs to stream '$existing' but batch $batchId came from " +
            s"stream '$id' — a reset/foreign checkpoint restarts batchIds and its " +
            "batches would silently collide with this lake's marker ledger")
      } else atomicWrite(fs, writerFile,
        id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val started = new Path(s"$lakeDir/_batches/$batchId.started")
    val done = new Path(s"$lakeDir/_batches/$batchId.done")
    if (fs.exists(done)) return // fully landed — replay is a no-op
    val crashReplay = fs.exists(started)
    if (!crashReplay) {
      val out = fs.create(started, true)
      try out.hsync() catch { case _: UnsupportedOperationException => () }
      out.close()
    }
    nearDupStepHook(lakeDir, "started")

    val docsPath = s"$lakeDir/docs"
    val bandsPath = s"$lakeDir/bands"
    val shPath = s"$lakeDir/shingles"

    // a redelivered doc_id INSIDE one micro-batch would otherwise ride
    // through as two rows (the in-batch self-join below is strict <, so
    // equal ids never pair) and be admitted twice — keep one
    // deterministically
    val docs0raw = graft.ingest.Dedup.dedupKeepFirst(
      batch.select(col("doc_id").cast("long"), col("text")),
      Seq(col("doc_id")), col("text"))

    // FIRST-WRITE-WINS id guard (both paths): probe the persisted bloom
    // — only the shards this batch's ids touch, when sharded; misses are
    // definitely new (no false negatives); only hits pay the exact
    // column-pruned confirm against the docs relation — the rare,
    // redelivery-proportional lake read
    val sizing = IdBloom.readSizing(fs, lakeDir)
      .getOrElse(IdBloom.Sizing(bloomItems, bloomFpp, 0L, 0L))
    // SHARDED lakes run an extra job here (the touched-shard collect), so
    // the batch frame is persisted to keep the dedup window single-run.
    // Unsharded lakes deliberately skip the persist: touchedShards is
    // job-free there, and the extra InMemoryRelation nesting would
    // re-render the (multi-MB) monolith bloom literal once more in every
    // AQE explain string — enough to OOM the driver on explain-heavy
    // plans (observed; sharded blooms are per-shard-capacity small)
    val docs0 =
      if (sizing.sharded) docs0raw.persist()
      else docs0raw
    val blooms = IdBloom.loadTouched(fs, lakeDir,
      IdBloom.touchedShards(docs0, "doc_id", sizing), sizing)
    val docs = (if (blooms.isEmpty) docs0
    else {
      val mightContain = IdBloom.probe(blooms, col("doc_id"), sizing)
      val hits = docs0.filter(mightContain)
      if (hits.isEmpty) docs0
      else {
        val lakeIds = readOr(spark, docsPath, docs0.schema)
          .select(col("doc_id").as("x_id"))
        docs0.filter(!mightContain).unionByName(
          hits.join(lakeIds, col("doc_id") === col("x_id"), "left_anti"))
      }
    }).persist()
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame](docs)
    if (sizing.sharded) persisted += docs0
    var checkpointed: Option[DataFrame] = None
    try {
      val freshSh = withShingles(docs).persist()
      val freshBands = bandRows(freshSh).persist()
      persisted += freshSh; persisted += freshBands

      // batch ⋈ lake candidates — the lake side is only ever equi-joined.
      // The self-pair exclusion (left ≠ right) applies ONLY on crash
      // replay, where a partial append can place the batch's OWN band
      // rows in the index — without the filter every such doc would match
      // itself (Jaccard 1) and be dropped as "already in the lake" before
      // its docs row ever lands. On the fast path the id guard above has
      // already removed every id the lake knows, so equal-id matches
      // cannot occur at all.
      val lakeBands = readOr(spark, bandsPath, freshBands.schema)
      val idGuard =
        if (crashReplay) col("left_id") =!= col("right_id") else lit(true)
      val candLake = freshBands.select(col("doc_id").as("left_id"), col("band"), col("bkey"))
        .join(lakeBands.select(col("doc_id").as("right_id"),
          col("band").as("l_band"), col("bkey").as("l_bkey")),
          col("band") === col("l_band") && col("bkey") === col("l_bkey") && idGuard)
        .select(col("left_id"), col("right_id")).distinct()
      val lakeSh = readOr(spark, shPath, freshSh.schema)
      val dupVsLake = verified(candLake, freshSh, lakeSh, threshold)
        .select(col("left_id").as("doc_id")).distinct()

      // in-batch candidates: same banding, batch-bounded self-join
      val a = freshBands.select(col("doc_id").as("right_id"), col("band"), col("bkey"))
      val b = freshBands.select(col("doc_id").as("left_id"),
        col("band").as("b_band"), col("bkey").as("b_bkey"))
      val candBatch = b.join(a,
          col("b_band") === col("band") && col("b_bkey") === col("bkey")
            && col("left_id") > col("right_id"))
        .select(col("left_id"), col("right_id")).distinct()
      val dupInBatch = verified(candBatch, freshSh, freshSh, threshold)
        .select(col("left_id").as("doc_id")).distinct()

      // Each append below triggers recacheByPath on every cached plan
      // whose lineage reads the written path — survivors' derivation
      // reads the band/shingle relations (and docs, on a bloom-hit
      // guard) — so a persist() here would silently RECOMPUTE against
      // the half-appended lake mid-sequence and hand later appends a
      // different (even empty) frame. A localCheckpoint severs the
      // lineage: all three appends see the same materialized survivor
      // set no matter what the appends do to the paths underneath.
      val survivors = docs
        .join(dupVsLake.unionByName(dupInBatch).distinct(), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      checkpointed = Some(survivors)

      // Three appends. ORDER IS LOAD-BEARING: docs goes LAST — a crash
      // anywhere before the docs append leaves the full batch in play on
      // replay, which re-derives the SAME survivors (the replay-only
      // self-pair exclusion keeps partially appended index rows from
      // shadowing their own docs) and fills only the missing relations;
      // a crash after the docs append replays as no-op appends. Docs-first
      // was the confirmed corruption: the replay would skip the
      // already-admitted docs, never write their index rows, and admit
      // in-batch near-dups that no longer saw their keeper. Target
      // anti-joins run ONLY on crash replay — a fresh batch's appends are
      // plain writes.
      def appendNew(df: DataFrame, path: String): Unit = {
        val out =
          if (crashReplay) {
            val existing = readOr(spark, path, df.schema).select(col("doc_id").as("x_id"))
            df.join(existing, col("doc_id") === col("x_id"), "left_anti")
          } else df
        out.write.mode("append").option("compression", "zstd").parquet(path)
      }
      // cached: both index appends read it, and its lineage sits on the
      // checkpoint blocks (no path reads), so recacheByPath can't touch it
      val survSh = withShingles(survivors).persist()
      persisted += survSh
      appendNew(bandRows(survSh), bandsPath)
      nearDupStepHook(lakeDir, "bands-appended")
      appendNew(survSh, shPath)
      nearDupStepHook(lakeDir, "shingles-appended")
      appendNew(survivors, docsPath)
      nearDupStepHook(lakeDir, "docs-appended")
      // bloom update AFTER the docs append, BEFORE the done marker: a
      // crash in between replays the batch (guarded path, no-op appends)
      // and rewrites the bloom; distributed build + merge, no collect.
      // Sizing comes from the _sizing ledger (defaults adopted on first
      // batch), so every generation shares one (items, fpp) and
      // mergeInPlace stays compatible across restarts with different
      // parameters. CAPACITY: once the admitted count reaches HALF the
      // guard's capacity (per-shard items × shard count), the guard is
      // rebuilt from the docs relation (which at this point already
      // includes this batch's survivors) — a 4× monolith while that fits
      // under `shardMaxItems`, a power-of-two id-RANGE SHARD SPLIT
      // beyond it ([[IdBloom.rebuild]]). One column-pruned id scan per
      // DOUBLING, amortized O(log n) full scans over the lake's
      // lifetime, instead of fpp silently drifting toward 1 and every
      // batch degrading into the exact confirm read. The rebuild rides
      // the batch protocol: a crash anywhere in bloom/ledger writes
      // replays the batch and re-runs the same deterministic rebuild.
      // stat.bloomFilter NPEs on an EMPTY frame (null aggregation
      // buffer), so an all-duplicate batch writes no generation and the
      // latest one simply carries forward.
      val nSurv = survivors.count() // checkpointed — no recompute
      val newCount = sizing.count + nSurv
      val nShards =
        if (sizing.sharded) math.max(1L, IdBloom.presentShards(fs, lakeDir).size.toLong)
        else 1L
      if (newCount * 2 >= sizing.items * nShards) {
        IdBloom.rebuild(fs, lakeDir,
          spark.read.parquet(docsPath).select(col("doc_id")), "doc_id",
          batchId, sizing, newCount, shardMaxItems)
      } else {
        if (nSurv > 0) {
          // merge the survivors into each touched shard's generation
          // chain — only shards with new admissions get a new file
          IdBloom.touchedShards(survivors, "doc_id", sizing).foreach { sh =>
            def shardIds(df: DataFrame): DataFrame =
              if (sizing.sharded)
                df.filter(shiftright(col("doc_id"), sizing.shardBits) === lit(sh))
              else df
            val b = shardIds(survivors).stat.bloomFilter("doc_id", sizing.items, sizing.fpp)
            // torn gen/sizing pair → rebuild this shard from the docs
            // relation (IdBloom.mergeOrRebuild's scaladoc has the window)
            val merged = IdBloom.mergeOrRebuild(b,
              IdBloom.latestGen(fs, lakeDir, sh, sizing.width))(
              shardIds(spark.read.parquet(docsPath).select(col("doc_id")))
                .stat.bloomFilter("doc_id", sizing.items, sizing.fpp))
            IdBloom.writeGen(fs, lakeDir, sh, sizing.width, batchId, merged)
          }
        } else if (blooms.isEmpty && !sizing.sharded) {
          // fresh unsharded lake whose first batch was all-duplicate:
          // seed an empty generation so the ledger layout exists
          IdBloom.writeGen(fs, lakeDir, 0L, 0L, batchId,
            BloomFilter.create(sizing.items, sizing.fpp))
        }
        nearDupStepHook(lakeDir, "guard-written")
        IdBloom.writeSizing(fs, lakeDir, sizing.copy(count = newCount))
      }
      nearDupStepHook(lakeDir, "sizing-written")
      fs.create(done, true).close()
    } finally {
      persisted.foreach(_.unpersist()) // only this batch's blocks — not the session cache
      // checkpoint blocks are RDD-level: Dataset.unpersist can't see them
      checkpointed.foreach(graft.functions.Checkpoints.releaseNow)
    }
  }

  /** Small-file maintenance for the three lake relations, plus ledger
    * pruning: every micro-batch append lands a fresh file set, and the
    * hot-path band index degrades fastest (one file group per batch, 8
    * rows per doc). Compacts any relation whose parquet file count
    * exceeds `maxFiles`, clustering the band index by (band, bkey) — so
    * the per-batch candidate lookup benefits from parquet min/max
    * pruning on the very keys it joins — and the doc-keyed relations by
    * doc_id. Also prunes the `_batches` marker ledger and `_idbloom`
    * generations: only the newest `keepBatches` done ids can ever be
    * replayed (foreachBatch replays at most the last uncommitted batch),
    * so older markers and blooms are dead weight that would otherwise
    * accumulate two tiny files per batch forever. Run this BETWEEN
    * drains (or from a scheduled maintenance job), never inside a
    * running query: `LakeWriter.compact` stages and swaps atomically,
    * and the next batch lists the directory fresh. */
  def maintain(spark: SparkSession, lakeDir: String,
               targetRowsPerFile: Long = 4L * 1024 * 1024, maxFiles: Int = 16,
               keepBatches: Int = 16): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def nFiles(p: String): Int = {
      val path = new Path(p)
      if (!fs.exists(path)) 0
      else fs.listStatus(path).count(_.getPath.getName.endsWith(".parquet"))
    }
    def maybe(p: String, clusterBy: Seq[String]): Unit =
      if (nFiles(p) > maxFiles)
        graft.sources.LakeWriter.compact(spark, p, targetRowsPerFile, clusterBy)
    maybe(s"$lakeDir/docs", Seq("doc_id"))
    maybe(s"$lakeDir/bands", Seq("band", "bkey"))
    maybe(s"$lakeDir/shingles", Seq("doc_id"))
    // ledger pruning: markers strictly below the retention floor go, as
    // do bloom generations below it — EXCEPT each directory's newest
    // generation, which is the cumulative filter its shard still probes
    // (a shard untouched for > keepBatches batches keeps exactly one
    // file; the flat layout keeps its newest the same way). Stale
    // `.tmp-*` leftovers from crashed atomic writes go too (maintain
    // runs BETWEEN drains — no concurrent writer can be mid-rename).
    // The `_writer` stamp and `_sizing` ledger survive (non-digit
    // names), as do the `s<shard>` directories themselves.
    val markers = new Path(s"$lakeDir/_batches")
    if (fs.exists(markers)) {
      val done = fs.listStatus(markers).map(_.getPath.getName)
        .filter(_.endsWith(".done")).map(_.stripSuffix(".done").toLong)
      if (done.nonEmpty) {
        val floor = done.max - keepBatches
        fs.listStatus(markers).map(_.getPath).foreach { p =>
          val id = p.getName.stripSuffix(".done").stripSuffix(".started")
          if (id.forall(_.isDigit) && id.toLong < floor) fs.delete(p, false)
        }
        def pruneGens(dir: Path): Unit = if (fs.exists(dir)) {
          val files = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
          val gens = files.filter(p =>
            p.getName.nonEmpty && p.getName.forall(c => c.isDigit || c == '-'))
          val newest = if (gens.isEmpty) Long.MinValue else gens.map(_.getName.toLong).max
          files.filter { p =>
            val n = p.getName
            (n.nonEmpty && n.forall(c => c.isDigit || c == '-')
              && n.toLong < floor && n.toLong != newest) || n.startsWith(".tmp-")
          }.foreach(fs.delete(_, false))
        }
        val blooms = new Path(s"$lakeDir/_idbloom")
        pruneGens(blooms)
        if (fs.exists(blooms))
          fs.listStatus(blooms).filter(_.isDirectory).map(_.getPath)
            .filter(_.getName.startsWith("s")).foreach(pruneGens)
      }
    }
    // admitted-count backfill: the per-batch count is approximate (a
    // crash replay can double-count its survivors) — reset it to the
    // EXACT docs count (a parquet-metadata count, no data read) so the
    // capacity-rebuild trigger never drifts. Width survives the rewrite.
    val docsP = new Path(s"$lakeDir/docs")
    IdBloom.readSizing(fs, lakeDir).foreach { s =>
      val exact = if (fs.exists(docsP)) spark.read.parquet(s"$lakeDir/docs").count() else 0L
      IdBloom.writeSizing(fs, lakeDir, s.copy(count = exact))
    }
  }

  /** The checkpoint's persistent query id (from its `metadata` file —
    * stable across restarts of the SAME checkpoint, regenerated when the
    * checkpoint is reset), the natural writer identity for the
    * `_writer` stamp. None before the stream has started / on a foreign
    * layout — the guard is then skipped, preserving direct
    * [[processBatch]] callers that manage their own batchIds. */
  private def checkpointQueryId(spark: SparkSession, checkpoint: String): Option[String] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$checkpoint/metadata")
    if (!fs.exists(p)) None
    else """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(readSmall(fs, p)).map(_.group(1))
  }

  /** File-source streaming wrapper: drain `srcDir` with AvailableNow,
    * running [[processBatch]] per micro-batch under the checkpoint's
    * batchId (the idempotence key) and the checkpoint's query id (the
    * writer stamp — a reset checkpoint gets a fresh id and fails loudly
    * against a lake it no longer owns). The Kafka variant swaps the
    * source exactly as [[IngestPipeline.kafkaSource]] documents. */
  def run(spark: SparkSession, srcDir: String, schema: StructType,
          lakeDir: String, checkpoint: String, threshold: Double = 0.5): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // read per batch (two tiny fs probes): the metadata file only
        // exists once the query has started, which is guaranteed here
        val wid = checkpointQueryId(spark, checkpoint)
        processBatch(batch, lakeDir, batchId, threshold, writerId = wid)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
