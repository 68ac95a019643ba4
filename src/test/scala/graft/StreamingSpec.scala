package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.IngestPipeline

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file-stream ingest (AvailableNow) lands decoded date-partitioned rows exactly once") {
    val work = Files.createTempDirectory("stream").toString
    val src = s"$work/src"; val dest = s"$work/lake"; val ckpt = s"$work/ckpt"
    // stage the raw events (pre-ts-conversion schema, as a broker dump would be)
    val ev = Tables(spark, sf001, "events")
    ev.write.parquet(src)
    val payloadSchema = StructType(Seq(StructField("k", LongType)))
    IngestPipeline.runFileIngest(spark, src, ev.schema, payloadSchema, dest, ckpt)
    val back = spark.read.parquet(dest)
    assert(back.count() == ev.count())
    assert(back.columns.contains("k") && back.columns.contains("date_path"))
    // run-once again with same checkpoint: no new files, still exactly-once
    IngestPipeline.runFileIngest(spark, src, ev.schema, payloadSchema, dest, ckpt)
    assert(spark.read.parquet(dest).count() == ev.count())
  }

  test("foreachBatch dedup-merge sink is idempotent (two-phase deferred dedup twin)") {
    import graft.ingest.Dedup
    implicit val sqlCtx = spark.sqlContext
    val lake = Files.createTempDirectory("mergelake").toString + "/events"
    val mem = MemoryStream[(Long, Long, Double)]
    val q = mem.toDF().toDF("user_id", "event_id", "value").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // reference two-phase mode: append-fast, then merge with an
        // anti-join against what the lake already holds (collector
        // :741-758) — here folded into one idempotent foreachBatch
        val fresh =
          if (new java.io.File(lake).exists())
            Dedup.antiJoinNew(batch, spark.read.parquet(lake),
              Seq("user_id", "event_id"), broadcastExisting = true)
          else batch
        fresh.write.mode("append").parquet(lake)
      }
      .start()
    mem.addData((1L, 1L, 1.0), (1L, 2L, 2.0))
    q.processAllAvailable()
    // second batch overlaps the first — only the new key may land
    mem.addData((1L, 2L, 2.0), (2L, 1L, 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(lake)
      .as[(Long, Long, Double)].collect().toSet
    assert(rows === Set((1L, 1L, 1.0), (1L, 2L, 2.0), (2L, 1L, 3.0)))
  }

  test("sessionization emits closed sessions with correct bounds (batch-mode check)") {
    import IngestPipeline._
    // batch Dataset run of the same per-group logic via groupByKey+flatMapGroups
    // base offset keeps every event strictly above the initial watermark
    // (epoch 0) — a row AT the watermark is dropped as late.
    val base = 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    val evts = Seq(
      Evt(1, ts(0), 1.0), Evt(1, ts(60000), 2.0),            // session A: 0-60s
      Evt(1, ts(10 * 60 * 60000), 3.0),                       // session B (gap 10h)
      Evt(2, ts(5000), 4.0))
    // drive through a memory stream so GroupState is exercised for real
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val out = sessionize(mem.toDS().withWatermark("ts", "0 seconds").as[Evt], gapMinutes = 30)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(evts: _*)
    q.processAllAvailable()
    val sessions = spark.table("sess_out").as[SessionOut].collect().toSet
    q.stop()
    // the 10h-later event closes session A; session B and user 2 stay open in state
    assert(sessions.contains(SessionOut(1, base, base + 60000, 2, 3.0)))
  }
}
