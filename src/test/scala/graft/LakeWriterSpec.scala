package graft

import java.nio.file.Files

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
}
