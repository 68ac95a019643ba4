package graft

import org.apache.spark.sql.functions._

import graft.streaming.NearDupStream

/** Scale soak for the streaming near-dup admission path: drives
  * [[NearDupStream.processBatch]] with fixed-size synthetic batches
  * against one growing lake and prints per-batch wall time — the
  * measured form of the fast path's O(batch) contract (per-batch cost
  * must stay FLAT as the lake grows; a lake-proportional regression
  * shows up as a positive slope).
  *
  * Batch content: `newPerBatch` brand-new docs (sequential doc_ids —
  * the locality the range-sharded id-bloom exploits), `redelivered`
  * re-sent docs from the previous batch (bloom-hit → exact-confirm hot
  * path), and `nearDups` new-id near-duplicates of earlier docs (LSH
  * candidate → verify → drop path). Token vocabularies are id-derived
  * and disjoint across distinct docs, so banding never manufactures
  * false candidates and admission counts are exactly predictable.
  *
  * Usage: `runMain graft.StreamBench <lakeDir> [batches=40]
  * [newPerBatch=5000] [bloomItems=65536] [shardMaxItems=262144]`
  * The small default bloom sizing FORCES capacity rebuilds and the
  * range-shard split mid-soak, so the printed series covers all three
  * guard regimes (monolith, rebuild, sharded). One JSON line at the
  * end carries the series plus a first-half/second-half mean
  * comparison (the flatness verdict), plus periodic maintain() calls
  * so file-count growth cannot masquerade as per-batch cost.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StreamBench <lakeDir> [batches] [newPerBatch] [bloomItems] [shardMaxItems] [startBatch] [mode=full|fresh|redeliver]")
    val lake = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 40
    val newPerBatch = if (args.length > 2) args(2).toInt else 5000
    val bloomItems = if (args.length > 3) args(3).toLong else 65536L
    val shardMax = if (args.length > 4) args(4).toLong else 262144L
    val startBatch = if (args.length > 5) args(5).toInt else 0
    val mode = if (args.length > 6) args(6) else "full"
    // near-dup rows for batch b reference src docs 100+b..199+b, which
    // must already be admitted by earlier batches or they'd be admitted
    // as novel and silently break the exact-admission contract
    require(mode == "fresh" || startBatch.toLong.max(1L) * newPerBatch > 199 + startBatch + nBatches,
      s"newPerBatch=$newPerBatch too small for the near-dup composition — " +
        "batch 1+'s near-dup sources would not be in the lake yet (use mode=fresh or raise it)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ten disjoint tokens per doc, derived from the doc id
    def textExpr = expr(
      "array_join(transform(sequence(0, 9), j -> concat('w', CAST(doc_id AS STRING), 'x', CAST(j AS STRING))), ' ')")
    def freshBatch(b: Int) = {
      val lo = b.toLong * newPerBatch
      val fresh = spark.range(lo, lo + newPerBatch).toDF("doc_id")
        .withColumn("text", textExpr)
      // redeliver 100 EARLY ids (admitted in batch 0 of any soak over
      // this lake — the id-guard bloom-hit → exact-confirm hot path) and
      // send 100 new-id near-dups of early docs (one tail token appended
      // to doc src's text → Jaccard 8/9 > 0.5 → LSH-verify → dropped)
      val redeliver = spark.range(0L, 100L)
        .toDF("doc_id").withColumn("text", textExpr)
      val near = spark.range(100L + b, 200L + b).toDF("src")
        .select((col("src") + 1000000000L + b.toLong * 1000).as("doc_id"),
          expr("concat(array_join(transform(sequence(0, 9), j -> concat('w', CAST(src AS STRING), 'x', CAST(j AS STRING))), ' '), ' extra')").as("text"))
      val composed =
        if (b == 0 || mode == "fresh") fresh
        else if (mode == "redeliver") fresh.unionByName(redeliver)
        else fresh.unionByName(redeliver).unionByName(near)
      // fixed partition count whatever the composition: a union of
      // ranges ADDS partitions, and per-job task-count growth would
      // masquerade as per-batch cost in the mode comparison
      composed.repartition(spark.sparkContext.defaultParallelism)
    }

    val times = (startBatch until startBatch + nBatches).map { b =>
      val df = freshBatch(b).localCheckpoint(true) // batch gen cost OUT of the measurement
      val t0 = System.nanoTime()
      NearDupStream.processBatch(df, lake, batchId = b,
        bloomItems = bloomItems, bloomFpp = 0.001, shardMaxItems = shardMax)
      val dt = (System.nanoTime() - t0) / 1e9
      // drop the batch's checkpoint blocks — a soak must not accumulate
      // dead storage whose pressure would skew the very series it measures
      graft.functions.Checkpoints.releaseNow(df)
      if (b % 10 == 9) NearDupStream.maintain(spark, lake, keepBatches = 8)
      System.err.println(f"[streambench] batch $b%3d ${dt}%.2f s")
      dt
    }
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    val half = nBatches / 2
    val m1 = mean(times.take(half))
    val m2 = mean(times.drop(half))
    val admitted = spark.read.parquet(s"$lake/docs").count()
    val sizing = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      graft.streaming.IdBloom.readSizing(fs, lake)
        .map(s => s"""{"items":${s.items},"count":${s.count},"width":${s.width}}""")
        .getOrElse("null")
    }
    // raw Double interpolation throughout, like Bench's JSON line: an
    // f-interpolator is locale-dependent (comma decimal separators would
    // corrupt the array); NaN halves (single-batch ablations) emit null
    def jnum(x: Double): String = if (x.isNaN) "null" else x.toString
    def round3(x: Double): String = (math.round(x * 1000) / 1000.0).toString
    println(s"""{"metric":"neardup_stream_soak","batches":$nBatches,"new_per_batch":$newPerBatch,""" +
      s""""admitted":$admitted,"mean_first_half_sec":${jnum(m1)},"mean_second_half_sec":${jnum(m2)},""" +
      s""""flatness_ratio":${jnum(m2 / m1)},"sizing":$sizing,""" +
      s""""per_batch_sec":[${times.map(round3).mkString(",")}]}""")
    spark.stop()
  }
}
