package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact
import graft.ingest.{Dedup, JsonDecode, OffsetLedger}

/** The collector-pipeline operator surface (SURVEY §2.1, §2.2, §2.8) mapped
  * onto the `events` table, which plays the decoded-Kafka-record role:
  * `user_id` ≈ kafka_partition, `event_id` ≈ kafka_offset, `ts` ≈ broker
  * timestamp, `props` = JSON payload.
  *
  * Scale notes per query in comments. Every aggregate over doubles routes
  * through [[graft.functions.Exact]]; every query ends in a total ORDER BY.
  */
object IngestQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  /** M0 flagship: decode → flatten → date-partition → keep-first dedup →
    * group-agg. One narrow decode map (no shuffle), one window shuffle on
    * event_id hash, one agg shuffle on the tiny (date, type) key space with
    * map-side partial aggregation — the canonical ingest rollup shape that
    * survives any scale-up. */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    val decoded = JsonDecode.decodeFlat(s, events(s, dir), "props")
    val dated = decoded.withColumn("date_path", date_format(col("ts"), "yyyy/MM/dd"))
    val deduped = Dedup.dedupKeepFirst(dated, Seq(col("event_id")), col("ts"))
    deduped
      .groupBy(col("date_path"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Exact.dsum(col("value")).as("sum_value"),
        max(col("k")).as("max_k"))
      .orderBy(col("date_path"), col("event_type"))
  }

  val entries: Seq[Entry] = Seq(

    // ---- E1 pipeline end-to-end (decode P8 + flatten P7 + F1/F2 date
    // derive + A6-shape dedup + A1-shape agg).
    entry("q_ingest_e2e",
      """SELECT strftime(ts,'%Y/%m/%d') AS date_path, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS VARCHAR(64)) AS DOUBLE) AS sum_value,
        |  MAX(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1, 2 ORDER BY date_path, event_type""".stripMargin)(
      (s, dir) => flagship(s, dir)),

    // ---- P8/P7: JSON decode + flatten projection, row-level output.
    // The decode is a narrow map; schema comes from a bounded sample
    // (JsonDecode mirrors the reference's one-shot format detection).
    entry("q_json_flatten",
      """SELECT event_id, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      JsonDecode.decodeFlat(s, events(s, dir), "props")
        .select(col("event_id"), col("k"))
        .orderBy(col("event_id"))
    },

    // ---- VARIANT-typed semi-structured extraction — the Spark-4-native
    // twin of q_json_flatten: `parse_json` stores the payload in the
    // binary VARIANT encoding ONCE and `variant_get` path-extracts with
    // a typed cast, which at 100 TB replaces per-query JSON string
    // re-parsing (q_json_flatten's from_json needs the schema up front;
    // variant defers typing to extraction — the right model for the
    // reference's schema-free payloads, collector :1225). The aggregate
    // is the usual exact-int one-shuffle shape; extraction itself is a
    // narrow codegen'd map over the scan. `try_parse_json` keeps the
    // flatten path's malformed-row tolerance (NULL k, not a query
    // abort — strict parse_json would fail the whole 100 TB job on one
    // bad payload row).
    entry("q_variant_extract",
      """WITH x AS (SELECT event_type, CAST(json_extract_string(props,'$.k') AS BIGINT) k
        |           FROM events)
        |SELECT event_type, COUNT(*) n, CAST(SUM(k) AS BIGINT) sum_k,
        |  CAST(SUM(k) AS DOUBLE)/COUNT(*) mean_k,
        |  MIN(k) min_k, MAX(k) max_k
        |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          expr("CAST(variant_get(try_parse_json(props), '$.k') AS BIGINT)").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(lit(1))).as("mean_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    // ---- A1: offset ledger — resume position mined from the lake
    // (collector :468-530). Projected 2-column scan (pruning reaches
    // parquet), groupBy-max with one row per partition: the shuffle payload
    // is O(#partitions), not O(rows), at any scale.
    entry("q_offset_ledger",
      """SELECT user_id, MAX(event_id) AS max_offset
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      OffsetLedger.maxOffsets(events(s, dir), "user_id", "event_id")
        .orderBy(col("user_id"))
    },

    // ---- F1/F2 + A2/A5: date-path derivation (collector :863-870) with
    // per-date counts and distinct users.
    entry("q_date_partition",
      """SELECT strftime(ts,'%Y/%m/%d') AS date_path, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY date_path""".stripMargin) { (s, dir) =>
      events(s, dir)
        .withColumn("date_path", date_format(col("ts"), "yyyy/MM/dd"))
        .groupBy(col("date_path"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("date_path"))
    },

    // ---- J1/J2: incremental-resume anti-join — drop records already in
    // the lake, keyed (partition, offset) (collector :741-748). The
    // existing side ships only its two key columns; when the ledger is
    // bounded it broadcasts and the 100 TB incoming side never shuffles.
    entry("q_incremental_antijoin",
      """SELECT event_id, user_id FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM events x
        |                  WHERE x.event_id <= 5000
        |                    AND x.user_id = e.user_id AND x.event_id = e.event_id)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val lake = events(s, dir).filter(col("event_id") <= 5000)
      Dedup.antiJoinNew(events(s, dir), lake, Seq("user_id", "event_id"),
          broadcastExisting = true)
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
    },

    // ---- Bloom-prefiltered incremental anti-join — the version of J1/J2
    // for when the ledger is too big to broadcast: a bloom sketch of the
    // existing keys (a few MB at 10⁸ keys / 1% fpp, built in one pass)
    // ships to executors as a literal probed by Spark's native
    // BloomFilterMightContain. No false negatives → bloom-miss rows are
    // definitely new and SKIP the join; only bloom hits (true dupes +
    // ~fpp of new rows) pay the anti-join shuffle. Result is exactly the
    // plain anti-join — the oracle proves the prefilter loses nothing.
    entry("q_incremental_bloom",
      """SELECT i.event_id, i.event_type FROM events i
        |WHERE i.event_id >= 2500 AND NOT EXISTS (
        |  SELECT 1 FROM events e WHERE e.event_id < 5000 AND e.event_id = i.event_id)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val lake = events(s, dir).filter(col("event_id") < 5000)
      val incoming = events(s, dir).filter(col("event_id") >= 2500)
        .select(col("event_id"), col("event_type"))
      Dedup.antiJoinNewBloom(incoming, lake, "event_id",
          expectedItems = 10000L, fpp = 0.01)
        .orderBy(col("event_id"))
    },

    // ---- Z-order clustering key: the Morton interleave of two columns'
    // low 16 bits (graft.plans.ZOrder2, native codegen) — sorting the
    // lake by this key clusters rows close in EITHER dimension into the
    // same files, so parquet min/max stats prune scans filtered on either
    // column (a sink range-partitions and sorts on it). The oracle
    // replays the interleave with shift/mask arithmetic.
    entry("q_zorder",
      """SELECT event_id, user_id,
        |  CAST(list_sum([ ((event_id >> i) & 1) * CAST(pow(4, i) AS BIGINT)
        |                + ((user_id  >> i) & 1) * CAST(pow(4, i) AS BIGINT) * 2
        |                 for i in generate_series(0,15)]) AS BIGINT) AS z
        |FROM events ORDER BY z, event_id LIMIT 100""".stripMargin) { (s, dir) =>
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          graft.plans.VectorExpressions.zorder2(col("event_id"), col("user_id")).as("z"))
        .orderBy(col("z"), col("event_id")).limit(100)
    },

    // ---- Incremental aggregate maintenance: merge a MATERIALIZED
    // aggregate with a delta's aggregate instead of recomputing over
    // history — the pattern behind streaming upsert sinks and nightly
    // rollup refreshes. Works because count/sum/max are re-aggregable
    // (merge = sum/sum/max of partials) and the DECIMAL accumulation is
    // exact, so partial+merge is bit-identical to the one-pass oracle.
    // At 100 TB the old aggregate is cluster-key-sized (one row per user),
    // so the merge shuffles the SUMMARY, never the history.
    entry("q_incr_agg_maintain",
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS VARCHAR(64)) AS DOUBLE) AS sum_value,
        |  MAX(event_id) AS max_event
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.functions.Exact
      def partial(pred: org.apache.spark.sql.Column) =
        events(s, dir).filter(pred)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(Exact.dec(col("value"))).as("sdec"),
            max(col("event_id")).as("max_event"))
      val materialized = partial(col("event_id") < 5000)  // "yesterday's" rollup
      val delta = partial(col("event_id") >= 5000)        // today's increment
      materialized.unionByName(delta)
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n"), sum(col("sdec")).as("sdec"),
          max(col("max_event")).as("max_event"))
        .select(col("user_id"), col("n"),
          col("sdec").cast("double").as("sum_value"), col("max_event"))
        .orderBy(col("user_id"))
    },

    // ---- A2/A3/A9: count validation — per-partition actual counts plus
    // offset-contiguity status (collector validate_topic :1398-1502). The
    // whole check aggregates to one row per partition before any compare.
    entry("q_count_validation",
      """SELECT user_id, COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_distinct,
        |  MIN(event_id) AS min_offset, MAX(event_id) AS max_offset,
        |  CASE WHEN COUNT(*) = COUNT(DISTINCT event_id) THEN 'OK' ELSE 'MISMATCH' END AS status
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_distinct"),
          min(col("event_id")).as("min_offset"),
          max(col("event_id")).as("max_offset"))
        .withColumn("status",
          when(col("n_rows") === col("n_distinct"), "OK").otherwise("MISMATCH"))
        .orderBy(col("user_id"))
    },

    // ---- Streaming semantics §2.8: event-time tumbling window (the batch
    // equivalent of the structured-streaming windowed agg in
    // graft.streaming). Window keys are derived pre-shuffle; partial
    // aggregation collapses each partition to O(#windows × #types) rows.
    entry("q_window_tumbling",
      """SELECT strftime(date_trunc('hour', ts),'%Y-%m-%d %H') AS hour_ts, event_type,
        |  COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour_ts"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_ts"), col("event_type"))
    },

    // ---- P8 msgpack: encode the JSON payloads to msgpack bytes, decode
    // them back with the hand-rolled reader (graft.functions.Msgpack),
    // then extract through the SAME from_json path native-JSON topics use.
    // The oracle reads the original JSON — a full codec roundtrip check.
    // Scale: two narrow maps; the UDF pair exists only in this test query,
    // real ingests decode once.
    entry("q_msgpack_roundtrip",
      """SELECT event_id, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      import graft.functions.Msgpack
      events(s, dir)
        .withColumn("mp", Msgpack.jsonToMsgpackUdf(col("props")))
        .withColumn("json2", Msgpack.msgpackToJson(col("mp")))
        .withColumn("k", from_json(col("json2"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .select(col("event_id"), col("k"))
        .orderBy(col("event_id"))
    },

    // ---- Streaming §2.8: SLIDING event-time window (1h length, 30min
    // slide) — each event lands in exactly two windows; the oracle
    // reconstructs the same epoch-aligned window starts arithmetically.
    entry("q_window_sliding",
      """WITH w AS (SELECT e.*, to_timestamp(CAST(floor(epoch(ts)/1800) AS BIGINT)*1800 - g*1800) ws
        |           FROM events e CROSS JOIN generate_series(0,1) s(g))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, event_type,
        |  COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },

    // ---- A6/A7: content-hash dedup cardinality — xxhash64 over content
    // columns then dropDuplicates; the count must equal DISTINCT over the
    // same columns (hash collisions aside — none in this keyspace). The
    // survivor row itself is nondeterministic (same as Polars
    // unique(keep='first') on unordered input), so the oracle-checked
    // output is the cardinality, not the rows.
    entry("q_content_dedup_count",
      """SELECT COUNT(*) AS n_distinct_content FROM (
        |  SELECT DISTINCT user_id, event_type, value, props FROM events)""".stripMargin) { (s, dir) =>
      val content = events(s, dir).select("user_id", "event_type", "value", "props")
      Dedup.dedupByContent(content, exclude = _ => false)
        .agg(count(lit(1)).as("n_distinct_content"))
    },

    // ---- Windowed keep-first dedup: one survivor per (user_id,
    // event_type) per event-hour — the batch twin of Spark's
    // `dropDuplicatesWithinWatermark` (bounded-state streaming dedup
    // keyed the same way). The hour bucket is integer
    // floor-division of the epoch (exact in both engines; Tables reads the
    // ns-epoch losslessly); survivor = earliest (ts, event_id). Shape at
    // 100 TB: ONE window shuffle keyed on the composite (user, type, hour)
    // — high cardinality, so no hot reducer — then a tiny per-bucket
    // rollup for the oracle-stable output.
    entry("q_event_dedup_window",
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket, ts FROM events),
        | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type, hour_bucket
        |        ORDER BY ts, event_id) rk FROM e)
        |SELECT hour_bucket, COUNT(*) AS n_first, MIN(event_id) AS min_event
        |FROM r WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = events(s, dir)
        .withColumn("hour_bucket", expr("unix_micros(ts) DIV 3600000000"))
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("hour_bucket"))
        .orderBy(col("ts"), col("event_id"))
      e.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("hour_bucket"))
        .agg(count(lit(1)).as("n_first"), min(col("event_id")).as("min_event"))
        .orderBy(col("hour_bucket"))
    },

    // ---- TRUE bounded-horizon dedup — the batch twin of the streaming
    // watermarked dropDuplicates, and the fix for q_event_dedup_window's
    // bucket-boundary blind spot: two same-key events 5 minutes apart
    // straddling an hour boundary land in different buckets and BOTH
    // survive the bucketed dedup; here an event is dropped iff it has a
    // same-(user, type) PREDECESSOR within the 30-min horizon, regardless
    // of bucket lines. Shape: bucket ts by the horizon H, and join each
    // event against predecessors in its own and the PREVIOUS bucket only
    // (any predecessor within H must sit in one of the two) — candidates
    // come from a (user, type, bucket) equi-join, never a corpus-wide
    // window sort or a time-range cross join; the dropped-id set then
    // anti-joins back on event_id. At 100 TB both shuffles are standard
    // hash exchanges; the ×2 explode is on the PROBE side only. The
    // predecessor order is total ((ts, event_id) lexicographic), so the
    // oracle's NOT EXISTS replays the exact survivor set.
    entry("q_dedup_bounded_horizon",
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) us FROM events),
        | k AS (SELECT a.event_type FROM e a WHERE NOT EXISTS (
        |         SELECT 1 FROM e p
        |         WHERE p.user_id = a.user_id AND p.event_type = a.event_type
        |           AND p.us <= a.us AND a.us - p.us <= 1800000000
        |           AND (p.us < a.us OR p.event_id < a.event_id))),
        | t AS (SELECT event_type, COUNT(*) n_total FROM e GROUP BY 1),
        | s AS (SELECT event_type, COUNT(*) n_kept FROM k GROUP BY 1)
        |SELECT t.event_type, n_total, COALESCE(n_kept, 0) AS n_kept,
        |  n_total - COALESCE(n_kept, 0) AS n_dropped
        |FROM t LEFT JOIN s USING (event_type) ORDER BY 1""".stripMargin) { (s, dir) =>
      val H = 1800000000L // 30 min in µs
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("b", expr(s"us DIV $H"))
      val probe = e.withColumn("pb", explode(array(col("b"), col("b") - 1)))
      val pred = e.select(col("user_id").as("p_uid"), col("event_type").as("p_type"),
        col("us").as("p_us"), col("event_id").as("p_id"), col("b").as("p_b"))
      val droppedIds = probe.join(pred,
          col("p_uid") === col("user_id") && col("p_type") === col("event_type") &&
            col("p_b") === col("pb") &&
            col("p_us") <= col("us") && (col("us") - col("p_us")) <= H &&
            (col("p_us") < col("us") || col("p_id") < col("event_id")), "left_semi")
        .select(col("event_id")).distinct()
      val kept = e.join(droppedIds, Seq("event_id"), "left_anti")
      e.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
        .join(kept.groupBy(col("event_type")).agg(count(lit(1)).as("n_kept")),
          Seq("event_type"), "left")
        .select(col("event_type"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
        .orderBy(col("event_type"))
    },

    // ---- Dataset RELEASE DIFF — the audit table a curation pipeline
    // publishes with every dataset version: per source, how many
    // documents were added, removed, changed (content hash moved) or
    // untouched between release v1 and v2. Releases are simulated
    // deterministically from one corpus (v1 misses the %11 slice =
    // "added in v2", v2 misses the %17 slice = "removed", the %13 slice
    // carries a different v1 content hash = "changed") so the oracle
    // replays the exact status logic. Scale shape: ONE full-outer
    // equi-join on doc_id — both sides are corpus-sized, so neither is
    // hinted; the join co-partitions on the key (shuffled hash join at
    // 100 TB, no broadcast candidate at all) and the status CASE runs
    // map-side before the configuration-bounded (source × 4) counts
    // aggregate. The md5 content keys stand in for the release
    // manifests' row digests (q_table_digest is the whole-table twin).
    entry("q_dataset_diff",
      """WITH v1 AS (SELECT doc_id, source, CASE WHEN doc_id % 13 = 0 THEN md5(text || '_v1') ELSE md5(text) END h
        |            FROM documents WHERE doc_id % 11 <> 0),
        | v2 AS (SELECT doc_id, source, md5(text) h FROM documents WHERE doc_id % 17 <> 0),
        | j AS (SELECT COALESCE(a.source, b.source) source,
        |         CASE WHEN a.doc_id IS NULL THEN 'added' WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.h <> b.h THEN 'changed' ELSE 'unchanged' END st
        |       FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(COALESCE(COUNT(CASE WHEN st = 'added' THEN 1 END), 0) AS BIGINT) n_added,
        |  CAST(COALESCE(COUNT(CASE WHEN st = 'removed' THEN 1 END), 0) AS BIGINT) n_removed,
        |  CAST(COALESCE(COUNT(CASE WHEN st = 'changed' THEN 1 END), 0) AS BIGINT) n_changed,
        |  CAST(COALESCE(COUNT(CASE WHEN st = 'unchanged' THEN 1 END), 0) AS BIGINT) n_unchanged
        |FROM j GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id")))
      val v1 = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id").as("a_id"), col("source").as("a_src"),
          when(col("doc_id") % 13 === 0, md5(concat(col("text"), lit("_v1"))))
            .otherwise(md5(col("text"))).as("a_h"))
      val v2 = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id").as("b_id"), col("source").as("b_src"),
          md5(col("text")).as("b_h"))
      v1.join(v2, col("a_id") === col("b_id"), "full_outer")
        .select(coalesce(col("a_src"), col("b_src")).as("source"),
          when(col("a_id").isNull, "added")
            .when(col("b_id").isNull, "removed")
            .when(col("a_h") =!= col("b_h"), "changed")
            .otherwise("unchanged").as("st"))
        .groupBy(col("source"))
        .agg(count(when(col("st") === "added", 1)).as("n_added"),
          count(when(col("st") === "removed", 1)).as("n_removed"),
          count(when(col("st") === "changed", 1)).as("n_changed"),
          count(when(col("st") === "unchanged", 1)).as("n_unchanged"))
        .orderBy(col("source"))
    },

    // ---- INGEST-RATE ANOMALY detection: flag hours whose event count
    // sits more than 3 trailing-window standard deviations from the
    // previous 24 hours' mean — the pipeline-health alarm that catches a
    // stalled producer (rate collapse) or a replay storm (rate spike)
    // right where the reference only counts rows after the fact
    // (`q_count_validation`). Exactness: the z-score fence is CROSS-
    // MULTIPLIED — (n·w − s)² > 9·(w·ssq − s²) is (n − mean)² > 9·var
    // with both sides scaled by w² — so no sqrt, no division, engines
    // agree bit-for-bit; the squared terms are widened to
    // decimal(38,0)/HUGEINT (the q_burstiness treatment — raw int64
    // wraps silently in Spark above ~1.3e8 events/hour while DuckDB
    // errors loudly, diverging the engines), and the hour bucket floors
    // on BOTH sides (date_trunc then exact DIV — bare
    // `unix_timestamp DIV 3600` truncates toward zero, splitting
    // pre-1970 timestamps across engines); warm-up hours (trailing
    // window < 12 rows) report false. Scale shape: the corpus reduces
    // map-side to ONE ROW PER DISTINCT HOUR before the window (8,760
    // rows/year — the q_degree_stats bounded-window discipline), so the
    // unpartitioned ORDER BY hr frame is configuration-bounded, never
    // corpus-bounded.
    entry("q_rate_anomaly",
      """WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 hr,
        |             COUNT(*) n FROM events GROUP BY 1),
        | w AS (SELECT hr, n,
        |   COUNT(*) OVER win w_hours,
        |   CAST(SUM(n) OVER win AS BIGINT) w_sum,
        |   SUM(CAST(n AS HUGEINT) * n) OVER win ssq
        |  FROM h WINDOW win AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT hr, n, w_hours, w_sum,
        |  w_hours >= 12 AND
        |    (CAST(n AS HUGEINT) * w_hours - w_sum) * (CAST(n AS HUGEINT) * w_hours - w_sum)
        |      > 9 * (w_hours * ssq - CAST(w_sum AS HUGEINT) * w_sum)
        |    AS anomaly
        |FROM w ORDER BY hr""".stripMargin) { (s, dir) =>
      val w = Window.orderBy(col("hr")).rowsBetween(-24, -1)
      val M = Exact.Moment
      val dev = (col("n").cast(M) * col("w_hours") - col("w_sum")).cast(M)
      events(s, dir)
        .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) DIV 3600").as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("w_hours", count(lit(1)).over(w))
        .withColumn("w_sum", sum(col("n")).over(w))
        .withColumn("ssq", sum((col("n").cast(M) * col("n")).cast(M)).over(w))
        .select(col("hr"), col("n"), col("w_hours"), col("w_sum"),
          (col("w_hours") >= 12 &&
            (dev * dev).cast(M)
              > lit(9L) * (col("w_hours").cast(M) * col("ssq") - (col("w_sum").cast(M) * col("w_sum")).cast(M))).as("anomaly"))
        .orderBy(col("hr"))
    }
  )
}
