package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.sketch.BloomFilter
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import graft.streaming.IdBloom

/** ScalaCheck properties for the keeper's id-bloom guard: the sizing
  * ledger must round-trip, including the legacy 3-field form, and must
  * refuse a sharded writer's ledger; a generation merge must never throw
  * on a geometry mismatch — it rebuilds instead. */
object IdBloomProps extends Properties("graft.idbloom") {

  // an uncached instance: a cached one made from a bare Configuration
  // would become every later `file:` user's filesystem in this JVM
  private lazy val fs =
    FileSystem.newInstance(new org.apache.hadoop.conf.Configuration())

  property("sizing ledger round-trips, including count/width extremes") =
    Prop.forAll(
      Gen.chooseNum(1L, Long.MaxValue / 8),
      Gen.chooseNum(1, 6).map(math.pow(10, _)).map(1.0 / _),
      Gen.chooseNum(0L, Long.MaxValue / 8)) {
      (items, fpp, count) =>
      val dir = Files.createTempDirectory("idbloomprops").toString
      val s = IdBloom.Sizing(items, fpp, count)
      IdBloom.writeSizing(fs, dir, s)
      IdBloom.readSizing(fs, dir).contains(s)
    }

  // no shrinking: shrunk values leave the generators' ranges (a width
  // shrinks to 0, a capacity to one the geometry cases never use)
  property("legacy 3-field sizing parses as unsharded (width 0)") =
    Prop.forAllNoShrink(Gen.chooseNum(1L, 1L << 40), Gen.chooseNum(0L, 1L << 40),
      Gen.chooseNum(0, 62).map(1L << _)) {
      (items, count, width) =>
        def ledger(text: String): String = {
          val dir = Files.createTempDirectory("idbloomlegacy").toString
          IdBloom.atomicWrite(fs, new Path(s"$dir/_idbloom/_sizing"), text.getBytes("UTF-8"))
          dir
        }
        val expected = IdBloom.Sizing(items, 0.001, count)
        // a nonzero 4th field is a sharded writer's range-shard width:
        // the unsharded guard must refuse it, not read it as a monolith
        val sharded = ledger(s"$items 0.001 $count $width")
        val refused =
          try { IdBloom.readSizing(fs, sharded); false }
          catch { case e: IllegalStateException => e.getMessage.contains("range-shard width") }
        (IdBloom.readSizing(fs, ledger(s"$items 0.001 $count")).contains(expected) :| "3-field") &&
          (IdBloom.readSizing(fs, ledger(s"$items 0.001 $count 0")).contains(expected) :| "width 0") &&
          (refused :| s"width $width must be rejected")
    }

  property("mergeOrRebuild merges compatible geometries and rebuilds incompatible ones") =
    Prop.forAllNoShrink(Gen.oneOf(1000L, 4000L), Gen.oneOf(1000L, 4000L),
      Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) {
      (freshItems, prevItems, freshIds, prevIds) =>
        def bf(items: Long, ids: Seq[Long]): BloomFilter = {
          val b = BloomFilter.create(items, 0.01); ids.foreach(b.putLong); b
        }
        val rebuilt = bf(16L, Nil)
        var rebuilds = 0
        val out = IdBloom.mergeOrRebuild(bf(freshItems, freshIds),
          Some(bf(prevItems, prevIds))) { rebuilds += 1; rebuilt }
        val mergeOk =
          if (freshItems == prevItems)
            rebuilds == 0 && (freshIds ++ prevIds).forall(out.mightContainLong)
          else rebuilds == 1 && (out eq rebuilt)
        // no previous generation: the fresh filter passes through as is
        val alone = bf(freshItems, freshIds)
        val first = IdBloom.mergeOrRebuild(alone, None)(rebuilt)
        (mergeOk :| s"fresh=$freshItems prev=$prevItems rebuilds=$rebuilds") &&
          ((first eq alone) :| "no previous generation")
    }
}
