package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted first-write-wins id guard of [[IngestPipeline]]'s inline
  * keeper: a generation'd Bloom filter over the lake's hashed keys
  * (`<lake>/_idbloom/...`) with a single sizing ledger.
  *
  * Contract: a bloom MISS is definitely-new (no false negatives — every
  * admitted id is in the latest generation); only hits pay an exact
  * confirm against the lake. A false positive can never drop a new row;
  * the degradation mode of any sizing imbalance is extra exact confirms,
  * never a dropped or duplicated row.
  *
  * Layout:
  *   - `_idbloom/_sizing` — `items fpp count 0` (one line; `items` is the
  *     bloom capacity, `count` the admitted ids). The trailing field is a
  *     range-shard width that only a sharded writer ever set; a legacy
  *     3-field ledger reads the same, and a nonzero width is rejected
  *     ([[readSizing]]).
  *   - generations: `_idbloom/<batchId>`, newest = highest batchId.
  *
  * All small files land via tmp+rename ([[atomicWrite]]) — atomic on
  * HDFS/POSIX; a torn newest generation on a filesystem without atomic
  * rename is skipped in favor of the next-lower one, which is sound
  * because a torn generation implies its batch's done marker never
  * landed, so that batch replays and rewrites both appends and blooms.
  */
object IdBloom {

  /** Sizing ledger row. `items` = bloom capacity; `count` = admitted ids. */
  case class Sizing(items: Long, fpp: Double, count: Long)

  private def genDir(lakeDir: String): Path = new Path(s"$lakeDir/_idbloom")

  private def sizingPath(lakeDir: String): Path = new Path(genDir(lakeDir), "_sizing")

  // ---- tiny-file IO ----------------------------------------------------

  /** Write `bytes` at `dest` atomically: tmp file in the same directory,
    * then rename (deleting a stale dest first — that only happens on
    * crash REPLAY, where the done marker is absent and the whole batch
    * re-runs, so a crash inside the delete+rename window just repeats
    * the replay). */
  def atomicWrite(fs: FileSystem, dest: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(dest.getParent, s".tmp-${dest.getName}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) throw new java.io.IOException(s"rename $tmp -> $dest failed")
  }

  def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, UTF_8)
    } finally in.close()
  }

  def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out); out.toByteArray
  }

  // ---- sizing ledger ---------------------------------------------------

  /** The ledger, or None on a fresh lake. Accepts the 3-field and the
    * 4-field form; a nonzero 4th field (a range-shard width) means the
    * guard was written by a sharded writer whose per-shard generations
    * this layout cannot see, so reading it as a monolith would probe an
    * empty guard and admit duplicates — refuse instead. */
  def readSizing(fs: FileSystem, lakeDir: String): Option[Sizing] = {
    val p = sizingPath(lakeDir)
    if (!fs.exists(p)) None
    else {
      val parts = readSmall(fs, p).trim.split("\\s+")
      val width = if (parts.length > 3) parts(3).toLong else 0L
      if (width != 0L) throw new IllegalStateException(
        s"$p records a range-shard width of $width: this id guard was written " +
          "by a sharded writer, and the keeper reads only the unsharded layout")
      Some(Sizing(parts(0).toLong, parts(1).toDouble, parts(2).toLong))
    }
  }

  def writeSizing(fs: FileSystem, lakeDir: String, s: Sizing): Unit =
    atomicWrite(fs, sizingPath(lakeDir), s"${s.items} ${s.fpp} ${s.count} 0".getBytes(UTF_8))

  // ---- generations -----------------------------------------------------

  /** Identity of one on-disk generation file — the broadcast cache's
    * freshness key. (path, length, mtime) changes whenever [[writeGen]]
    * lands a new generation (atomicWrite renames a fresh tmp file into
    * place, so even an identical payload gets a new mtime). */
  private case class GenStamp(path: String, len: Long, mtime: Long)

  /** Generation files, newest first. The one name rule of the layout: a
    * generation is a file named by its batchId's digits (`_sizing` and
    * atomicWrite's `.tmp-*` files never match). */
  private def genFiles(fs: FileSystem, lakeDir: String): Seq[FileStatus] = {
    val dir = genDir(lakeDir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.nonEmpty && n.forall(_.isDigit)) n.toLongOption.map(_ -> st) else None
      }
      .sortBy(-_._1).map(_._2)
  }

  private def stampOf(st: FileStatus): GenStamp =
    GenStamp(st.getPath.toString, st.getLen, st.getModificationTime)

  /** Latest READABLE generation with its stamp, or None on a fresh lake.
    * Torn newest generations are skipped — see the object scaladoc for
    * why that is sound. */
  private def latestGen(fs: FileSystem, lakeDir: String): Option[(GenStamp, BloomFilter)] =
    genFiles(fs, lakeDir).iterator.map { st =>
      try {
        val in = fs.open(st.getPath)
        try Some(stampOf(st) -> BloomFilter.readFrom(in)) finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None } // torn — fall back
    }.collectFirst { case Some(r) => r }

  def writeGen(fs: FileSystem, lakeDir: String, batchId: Long, bf: BloomFilter): Unit =
    atomicWrite(fs, new Path(genDir(lakeDir), batchId.toString), bloomBytes(bf))

  /** Delete all but the newest `keep` generations. Only the newest (the
    * probe) and its predecessor (the torn-newest fallback for the one
    * batch that can ever replay) are readable state — older files are
    * dead weight at a full bloom's size each, so a forever-running drain
    * would otherwise accumulate them without bound. */
  def pruneGens(fs: FileSystem, lakeDir: String, keep: Int = 2): Unit =
    genFiles(fs, lakeDir).drop(keep).foreach(st => fs.delete(st.getPath, false))

  /** Delete the whole guard (generations and ledger). Absence is always
    * safe: the next keeper batch re-adopts the lake with an exact
    * anti-join and builds a fresh generation from every landed key. */
  def invalidate(fs: FileSystem, lakeDir: String): Unit = {
    val dir = genDir(lakeDir)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  // ---- broadcast cache -------------------------------------------------

  /** Driver-side cache of generation BROADCASTS, keyed by lake and
    * fingerprinted by the generation file's [[GenStamp]]: a micro-batch
    * probing an UNCHANGED guard generation reuses the broadcast already
    * sitting in every executor's block manager instead of re-reading and
    * re-pushing up to ~30 MB (the 2^24 keeper clamp) per batch. A changed
    * generation broadcasts the new filter and `unpersist(false)`es the
    * stale handle — executor copies drop eagerly; the driver value stays
    * re-broadcastable in case a straggling prior stage re-runs (destroy()
    * would fail such a stage instead).
    *
    * Entries beyond [[bcCacheCap]] drop least-recently-used first, which
    * bounds a driver serving many lakes. Eviction `unpersist(false)`es and
    * releases the cache's strong reference, so the ContextCleaner can
    * reclaim the driver-side filter once no stage references survive. */
  private case class CachedBc(stamp: GenStamp, owner: org.apache.spark.SparkContext,
                              bc: Broadcast[BloomFilter],
                              lastUse: java.util.concurrent.atomic.AtomicLong)
  private val bcCache = scala.collection.concurrent.TrieMap.empty[String, CachedBc]
  private val useTick = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private[graft] var bcCacheCap: Int = 64
  private[graft] def cachedKeys: Set[String] = bcCache.keySet.toSet
  private[graft] def clearBcCache(): Unit = bcCache.keys.foreach(evict)
  private def evict(lakeDir: String): Unit =
    bcCache.remove(lakeDir).foreach { c =>
      try if (!c.owner.isStopped) c.bc.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  private def trimLru(): Unit =
    if (bcCache.size > bcCacheCap)
      bcCache.toSeq.sortBy(_._2.lastUse.get())
        .dropRight(bcCacheCap).foreach { case (k, _) => evict(k) }

  /** The latest readable generation as a cached broadcast handle, or None
    * on a fresh lake. The fast path compares the NEWEST candidate file's
    * stamp against the cache without reading it; only a stamp change (or
    * a torn newest forcing the fallback walk) pays the read. The returned
    * handle's `.value` is safe to use driver-side as a read-only view
    * (nothing in this object mutates a prev generation — [[mergeOrRebuild]]
    * merges INTO the fresh side). */
  def genBroadcast(fs: FileSystem, lakeDir: String): Option[Broadcast[BloomFilter]] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    // bump the about-to-be-served entry BEFORE the LRU pass: at exactly
    // cap occupancy the pass could otherwise evict the entry this very
    // call is fetching, turning a guaranteed hit into a re-read +
    // re-broadcast
    bcCache.get(lakeDir).foreach(_.lastUse.set(useTick.incrementAndGet()))
    trimLru()
    // an entry minted under a since-stopped SparkContext is dead (its
    // broadcast blocks died with the context) — treat as a miss; crash
    // harnesses restart sessions against the same lake dir
    val cached = bcCache.get(lakeDir).filter(c => c.owner.eq(sc) && !c.owner.isStopped)
    val newest = genFiles(fs, lakeDir).headOption.map(stampOf)
    (cached, newest) match {
      case (Some(c), Some(head)) if c.stamp == head => Some(c.bc)
      case (_, None) => None // fresh lake: no generation, nothing to probe
      case _ =>
        latestGen(fs, lakeDir).map { case (st, bf) =>
          cached match {
            case Some(c) if c.stamp == st => c.bc // torn newest; fallback unchanged
            case _ =>
              val bc = sc.broadcast(bf)
              bcCache.put(lakeDir,
                CachedBc(st, sc, bc,
                  new java.util.concurrent.atomic.AtomicLong(useTick.incrementAndGet())))
              cached.foreach(c => c.bc.unpersist(false))
              trimLru() // the put may have grown the cache past the cap
              bc
          }
        }
    }
  }

  // ---- merge / probe ---------------------------------------------------

  /** Merge `fresh` into `prev` when their geometries agree; on a TORN
    * GEN/SIZING PAIR fall back to `rebuildAll`. The torn pair: a
    * capacity rebuild writes the new generation, then crashes before the
    * sizing write — the newest generation now has a geometry the ledger
    * no longer describes, and a ledger-sized `mergeInPlace` against it
    * would throw IncompatibleMergeException on every later batch.
    * Rebuilding from the authoritative lake is always safe. (The keeper's
    * replay recomputes the exact landed count, which re-fires its own
    * rebuild, so this is defense in depth.) */
  def mergeOrRebuild(fresh: BloomFilter, prev: Option[BloomFilter])
                    (rebuildAll: => BloomFilter): BloomFilter = prev match {
    case Some(p) if fresh.isCompatible(p) => fresh.mergeInPlace(p); fresh
    case Some(_)                          => rebuildAll
    case None                             => fresh
  }

  /** Might-contain column over one generation's broadcast handle; a null
    * id reads as false (definitely new).
    *
    * The filter ships as a BROADCAST VARIABLE consumed by the codegen
    * probe expression ([[graft.plans.BroadcastBloomMightContain]]), NOT
    * as a plan literal: a literal re-serializes the whole filter into
    * every stage's task binary (7.2–21.7 MiB per probe stage measured
    * cross-JVM at 2^22 items; ~30 MB at the keeper's 2^24 clamp) and
    * hex-renders it in full into every explain string — the broadcast
    * handle is bytes in both places and the payload moves once per
    * executor. Callers pass the handle from [[genBroadcast]], so an
    * unchanged generation is broadcast ONCE, not once per batch. Same
    * probe hash as `df.stat.bloomFilter` (`mightContainLong`). */
  def probe(bc: Broadcast[BloomFilter], idCol: Column): Column = {
    import org.apache.spark.sql.classic.{GraftExpressionBridge => Bridge}
    coalesce(Bridge.column(
      graft.plans.BroadcastBloomMightContain(Bridge.expression(idCol), bc)), lit(false))
  }
}
