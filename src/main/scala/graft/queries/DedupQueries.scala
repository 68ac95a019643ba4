package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.ingest.Dedup

/** Training-data deduplication family over `documents` / `embeddings` /
  * `events`: exact keep-first, brute n-gram Jaccard, MinHash+LSH, and
  * embedding-cosine near-dup.
  *
  * The MinHash hash family is md5-with-salt-prefix, min taken in hex-string
  * order — deliberately engine-portable so the DuckDB oracle replicates the
  * *algorithm* (not just the intent) and the gate checks candidate
  * generation + verification end to end.
  *
  * Scale story: the brute pairwise variants are correctness baselines and
  * run on a bounded slice; LSH is the 100 TB path — its only wide ops are
  * a shuffle on (band, bandKey) and a candidate-pair distinct, both of
  * which scale with the number of colliding docs, not with n². */
object DedupQueries {

  /** Distinct 3-gram shingle sets, one row per document.
    *
    * `documents` is a single parquet file, so every downstream
    * nested-loop pair join would otherwise inherit ONE partition and run
    * single-core (the streamed side of a BroadcastNestedLoopJoin keeps its
    * input partitioning). The compute here is per-PAIR, not per-byte, so we
    * explicitly spread the streamed side across the cluster — at scale this
    * is the difference between 1 core and all of them. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .transform(Tables.spread(_, col("doc_id")))
      .withColumn("toks", tokens("text"))
      .select(col("doc_id"), shingles("toks", 3).as("sh"))

  /** Exact per-pair Jaccard over the shingle sets: (a_id, b_id, inter,
    * uni, jac) — the ONE intersection/union computation every verify and
    * sketch-evaluation path shares (the intersection size materializes
    * once; a naive jac expression would evaluate array_intersect twice
    * per pair). */
  private def jaccardPairs(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sa = sh.select(col("doc_id").as("a_id"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("b_id"), col("sh").as("shb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("inter", expr("size(array_intersect(sha, shb))"))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
  }

  /** Exact-Jaccard verification of candidate pairs — unsorted (cluster
    * queries feed this into further joins where a sort would be wasted). */
  private def verifiedPairs(cand: DataFrame, sh: DataFrame, thresh: Double): DataFrame =
    jaccardPairs(cand, sh)
      .filter(col("jac") >= thresh)
      .select(col("a_id"), col("b_id"), col("jac"))

  private def verified(cand: DataFrame, sh: DataFrame, thresh: Double): DataFrame =
    verifiedPairs(cand, sh, thresh).orderBy(col("a_id"), col("b_id"))

  /** LSH candidate pairs (a_id < b_id) from an already-SIGNED frame
    * (doc_id, sh, mh): 8 bands × r=2, equi-join on (band, key). Taking
    * the signed frame lets callers that need the signatures elsewhere
    * (sketch evaluation) hash each shingle exactly once. */
  private def lshCandidatesFromSig(sig: DataFrame): DataFrame = {
    val bands = sig
      .select(col("doc_id"), posexplode(bandKeys("mh", 8)).as(Seq("band", "bkey")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs (a_id < b_id): 16-slot signatures, 8
    * bands × r=2 — shared by the pair query and the clustering query. */
  private def lshCandidates(sh: DataFrame): DataFrame =
    lshCandidatesFromSig(sh.withColumn("mh", minhashSignature("sh", 16)))

  val entries: Seq[Entry] = Seq(

    // ---- Exact dedup, deterministic keep-first survivor (min event_id per
    // content group — the oracle states it as MIN, the impl as a
    // row_number window; both are one shuffle on the content key).
    entry("q_dedup_exact",
      """SELECT MIN(event_id) AS event_id, event_type, props FROM events
        |GROUP BY event_type, props ORDER BY event_id""".stripMargin) { (s, dir) =>
      Dedup.dedupKeepFirst(
          Tables(s, dir, "events").select("event_id", "event_type", "props"),
          Seq(col("event_type"), col("props")), col("event_id"))
        .orderBy(col("event_id"))
    },

    // ---- Per-source duplication audit: docs vs distinct content hashes
    // per `source` — the curation dashboard row that says WHICH feed is
    // flooding the corpus with copies before any dedup runs (the global
    // rate hides a single bad source). Content keys are 60-bit int64
    // md5-prefixes ([[graft.functions.TextFunctions.md5Prefix64Sql]],
    // the repo-wide wide-key family): the COUNT(DISTINCT) shuffles one
    // (source, 8-byte hash) row per doc, map-side combined — 4× fewer
    // shuffle bytes than the 32-char md5 hex string this used to carry,
    // with a birthday bound still negligible at 10^13 docs; the oracle
    // replays the identical hex→int arithmetic so even a collision
    // (which would merge two texts in the distinct counts) cannot
    // diverge the engines. Exact int counts, one double division at
    // presentation.
    entry("q_dup_by_source",
      s"""WITH h AS (SELECT source, ${md5Prefix64Oracle("text")} h FROM documents)
        |SELECT source, COUNT(*) n_docs,
        |  COUNT(DISTINCT h) n_unique,
        |  COUNT(*) - COUNT(DISTINCT h) n_dup_docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE)/COUNT(*) dup_ratio
        |FROM h GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("source"), md5Prefix64("text").as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"),
          ((count(lit(1)) - countDistinct(col("h"))).cast("double")
            / count(lit(1))).as("dup_ratio"))
        .orderBy(col("source"))
    },

    // ---- EXACT SUBSTRING dedup (the "Deduplicating Training Data Makes
    // Language Models Better" operator, scaled down from 50-token to
    // 8-token windows for this corpus): every 8-token window that appears
    // in ≥ 2 distinct documents is a duplicated substring HIT; per
    // document, overlapping/adjacent hits merge into SPANS (the classic
    // islands-and-gaps: a running max of span ends partitioned by doc),
    // reporting span count and duplicated token mass — position-aware
    // where the chunk/boilerplate operators are alignment-bound. Scale
    // shape: the window explosion carries (doc, pos, int64 md5-prefix
    // hash) — ~1 row per corpus token, 8-byte keys; the shared-window
    // index is one map-side-combined aggregate joined back AQE-sized; the
    // island windows partition BY DOCUMENT (bounded by doc length, never
    // corpus-wide). The oracle replays hashing and island arithmetic.
    entry("q_dedup_substring",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | wp AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks)-7, 0))) pos, toks FROM t),
        | w AS (SELECT doc_id, pos, list_sum([(strpos('0123456789abcdef', substr(md5(array_to_string(toks[pos:pos+7],' ')), j, 1)) - 1)
        |        * CAST(pow(16, 15-j) AS BIGINT) for j in generate_series(1,15)]) h FROM wp),
        | d AS (SELECT h FROM w GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
        | hit AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (h)),
        | isl AS (SELECT doc_id, pos,
        |     CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END ni
        |   FROM hit),
        | i2 AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) island FROM isl),
        | sp AS (SELECT doc_id, island, MAX(pos) + 7 - MIN(pos) + 1 span_tokens FROM i2 GROUP BY 1,2)
        |SELECT doc_id, COUNT(*) n_dup_spans, CAST(SUM(span_tokens) AS BIGINT) dup_tokens
        |FROM sp GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val w = Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id")))
        .select(col("doc_id"), tokens("text").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          "CASE WHEN size(toks) < 8 THEN CAST(array() AS ARRAY<BIGINT>) " +
            "ELSE transform(sequence(1, size(toks) - 7), " +
            s"i -> ${md5Prefix64Sql("array_join(slice(toks, i, 8), ' ')")}) END"))
          .as(Seq("p", "h")))
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("h"))
      val dup = w.groupBy(col("h").as("d_h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("d_h"))
      val hits = w.join(dup, col("h") === col("d_h"))
        .select(col("doc_id"), col("pos"))
      val prevMaxEnd = max(col("pos") + 7)
        .over(byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
      hits
        .withColumn("ni", when(col("pos") > coalesce(prevMaxEnd, lit(-1)) + 1, 1).otherwise(0))
        .withColumn("island", sum(col("ni")).over(byDoc))
        .groupBy(col("doc_id"), col("island"))
        .agg((max(col("pos")) + 7 - min(col("pos")) + 1).as("span_tokens"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_spans"),
          sum(col("span_tokens")).cast("long").as("dup_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- n-gram Jaccard near-dup pairs via PREFIX FILTERING (PPJoin-
    // style): sort each shingle set under a global order; for threshold
    // t=0.5 any pair with jac ≥ t must share a shingle within the first
    // |X| − ⌈t·|X|⌉ + 1 shingles of BOTH sets (proof: if every common
    // shingle sat past A's prefix, |A∩B| ≤ ⌈t|A|⌉ − 1 < t|A| ≤ |A∩B|).
    // So: explode only prefixes, equi-join on the shingle, verify exact
    // Jaccard on the (few) candidates. Output is IDENTICAL to the brute
    // all-pairs oracle, but work scales with prefix collisions, not n² —
    // the round-2 all-pairs formulation was 93s of the 215s bench at
    // sf0.1; this is the 100 TB-shaped plan: one shuffle on the prefix
    // shingle, one distinct, then a bounded verify join.
    entry("q_dedup_ngram",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents WHERE doc_id < 1000),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t)
        |SELECT a.doc_id a_id, b.doc_id b_id,
        |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)/(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) jac
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)/(len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir).filter(col("doc_id") < 1000).persist()
      val pref = sh.select(col("doc_id"), explode(expr(
        "slice(array_sort(sh), 1, size(sh) - CAST(ceil(0.5 * size(sh)) AS INT) + 1)")).as("tok"))
      val cand = pref.as("a")
        .join(pref.as("b"), col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      verified(cand, sh, 0.5)
    },

    // ---- MinHash + LSH near-dup detection: 16-slot signature, 8 bands ×
    // r=2, band-bucket equi-join for candidates, exact-Jaccard verify.
    // The oracle replicates the identical algorithm, so the hash-match
    // checks banding recall too. Hash family: ONE md5 per shingle (first
    // 8 hex digits as int64) + 16 affine transforms, all mins in a single
    // native pass (graft.plans.MinHashSlots) — 16× less hashing than a
    // salted-md5-per-slot family, same engine portability (the oracle
    // rebuilds the hex→int base with strpos/pow arithmetic). Scale:
    // signature is a narrow map over a persisted shingle set (reused by
    // the band self-join and the verify join); candidates come from an
    // equi-join on (band, key) — no all-pairs anywhere; verification
    // touches only colliding pairs.
    entry("q_dedup_minhash_lsh",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, sh, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | bandkeys AS (SELECT doc_id, [CAST(mh[2*j-1] AS VARCHAR)||'|'||CAST(mh[2*j] AS VARCHAR)
        |        for j in generate_series(1,8)] bk FROM sig),
        | bands AS (SELECT doc_id, generate_subscripts(bk,1) band, unnest(bk) bkey FROM bandkeys),
        | cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
        |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        | v AS (SELECT a_id, b_id,
        |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
        |       FROM cand JOIN s sa ON cand.a_id = sa.doc_id JOIN s sb ON cand.b_id = sb.doc_id)
        |SELECT a_id, b_id, jac FROM v WHERE jac >= 0.5 ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir).persist()
      verified(lshCandidates(sh), sh, 0.5)
    },

    // ---- INCREMENTAL near-dup dedup — the shape a daily ingest actually
    // runs: a NEW BATCH (here the deterministic doc_id % 10 slice)
    // screened against the EXISTING LAKE, with candidates from
    // batch-bands ⋈ lake-bands only — never lake × lake, so the daily
    // cost scales with the batch's band collisions, not with the corpus.
    // In production the lake side's signatures/bands are PRECOMPUTED and
    // stored beside the documents (signing here simulates that store);
    // the batch side is small, so its exploded bands broadcast and the
    // 100 TB lake band index is probed in place. Exact-Jaccard verify on
    // the (few) candidates, same 0.5 threshold as the full-corpus pass.
    entry("q_dedup_incremental_lsh",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, sh, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | bandkeys AS (SELECT doc_id, [CAST(mh[2*j-1] AS VARCHAR)||'|'||CAST(mh[2*j] AS VARCHAR)
        |        for j in generate_series(1,8)] bk FROM sig),
        | bands AS (SELECT doc_id, generate_subscripts(bk,1) band, unnest(bk) bkey FROM bandkeys),
        | cand AS (SELECT DISTINCT a.doc_id new_id, b.doc_id lake_id
        |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |            AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
        | v AS (SELECT new_id, lake_id,
        |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
        |       FROM cand JOIN s sa ON cand.new_id = sa.doc_id JOIN s sb ON cand.lake_id = sb.doc_id)
        |SELECT new_id, lake_id, jac FROM v WHERE jac >= 0.5 ORDER BY new_id, lake_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir).persist()
      val bands = sh.withColumn("mh", minhashSignature("sh", 16))
        .select(col("doc_id"), posexplode(bandKeys("mh", 8)).as(Seq("band", "bkey")))
      val batchBands = bands.filter(col("doc_id") % 10 === 0)
        .toDF("new_id", "band", "bkey")
      val lakeBands = bands.filter(col("doc_id") % 10 =!= 0)
        .toDF("lake_id", "l_band", "l_bkey")
      // UNHINTED: the batch side is a corpus FRACTION (every 10th doc ×
      // 8 band rows — data-proportional, not configuration-bounded), so
      // a forced broadcast pins a multi-TB frame at the 100 TB design
      // point. AQE measures it under the threshold here and broadcasts
      // it to the lake side itself; at scale the plan degrades
      // gracefully to a shuffled equi-join on (band, bkey). The
      // batch ⋈ lake restriction (never lake × lake) is what this query
      // exists to pin, and that survives either join strategy.
      val cand = batchBands.join(lakeBands,
          col("band") === col("l_band") && col("bkey") === col("l_bkey"))
        .select(col("new_id"), col("lake_id")).distinct()
      val sa = sh.select(col("doc_id").as("new_id"), col("sh").as("sha"))
      val sb = sh.select(col("doc_id").as("lake_id"), col("sh").as("shb"))
      cand.join(sa, "new_id").join(sb, "lake_id")
        .withColumn("inter", expr("size(array_intersect(sha, shb))"))
        .withColumn("jac",
          col("inter").cast("double") / (size(col("sha")) + size(col("shb")) - col("inter")))
        .filter(col("jac") >= 0.5)
        .select(col("new_id"), col("lake_id"), col("jac"))
        .orderBy(col("new_id"), col("lake_id"))
    },

    // ---- Sketch-quality evaluation: MinHash-estimated Jaccard (matching
    // signature slots / 16) against the EXACT Jaccard for every LSH
    // candidate pair — the accuracy audit a pipeline runs before trusting
    // a sketch family at a new corpus (here it also shows why candidates
    // are VERIFIED before dedup: 16 slots estimate coarsely). Everything
    // is exact integers until two single double divisions per pair and
    // their difference — deterministic in both engines. Shape: the same
    // no-all-pairs LSH candidate generation, one signature join per side.
    entry("q_sketch_quality",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, sh, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | bandkeys AS (SELECT doc_id, [CAST(mh[2*j-1] AS VARCHAR)||'|'||CAST(mh[2*j] AS VARCHAR)
        |        for j in generate_series(1,8)] bk FROM sig),
        | bands AS (SELECT doc_id, generate_subscripts(bk,1) band, unnest(bk) bkey FROM bandkeys),
        | cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
        |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        | q AS (SELECT c.a_id, c.b_id,
        |         CAST(list_sum([CASE WHEN sa.mh[i] = sb.mh[i] THEN 1 ELSE 0 END for i in generate_series(1,16)]) AS BIGINT) matches,
        |         CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) inter,
        |         CAST(len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh)) AS BIGINT) uni
        |       FROM cand c JOIN sig sa ON c.a_id = sa.doc_id JOIN sig sb ON c.b_id = sb.doc_id
        |         JOIN s ha ON c.a_id = ha.doc_id JOIN s hb ON c.b_id = hb.doc_id)
        |SELECT a_id, b_id, CAST(matches AS DOUBLE)/16 AS est_jac,
        |  CAST(inter AS DOUBLE)/uni AS true_jac,
        |  abs(CAST(matches AS DOUBLE)/16 - CAST(inter AS DOUBLE)/uni) AS abs_err
        |FROM q ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir)
      // sign ONCE and persist: bands, both signature join sides, and the
      // exact-Jaccard verify all read the same frame — without this the
      // md5-per-shingle signing would run three times
      val sig = sh.withColumn("mh", minhashSignature("sh", 16)).persist()
      val siga = sig.select(col("doc_id").as("a_id"), col("mh").as("ma"))
      val sigb = sig.select(col("doc_id").as("b_id"), col("mh").as("mb"))
      jaccardPairs(lshCandidatesFromSig(sig), sig)
        .join(siga, "a_id").join(sigb, "b_id")
        .withColumn("matches",
          // r19: native agreement count — the zip_with/filter/size chain is
          // ~3·16 interpreted lambda evals per candidate pair (CodegenFallback)
          graft.plans.VectorExpressions.agree(col("ma"), col("mb")).cast("long"))
        .select(col("a_id"), col("b_id"),
          (col("matches").cast("double") / 16).as("est_jac"),
          col("jac").as("true_jac"),
          abs(col("matches").cast("double") / 16 - col("jac")).as("abs_err"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ---- Near-dup CLUSTERING — the step a real dedup pipeline runs AFTER
    // pair generation: connected components over the verified LSH pair
    // graph, so every group of transitively-similar documents collapses to
    // one canonical survivor (the min doc_id). Implementation is
    // [[graft.functions.ConnectedComponents]]: partition-local UNION-FIND
    // contraction — each task resolves every chain it holds in one narrow
    // pass, a per-node min merges the local roots, edges contract through
    // the mapping, and only task-boundary-crossing edges survive to the
    // next (geometrically narrower) round. One round suffices whenever the
    // pair graph fits one task (pair graphs are orders smaller than the
    // corpus); adversarial cross-partition chains terminate in ≤ log₄ P
    // + 1 rounds regardless of diameter — strictly better than min-label
    // propagation (diameter rounds) or star-contraction (log² n), and
    // each round is ONE narrow mapPartitions + one aggregate + one
    // contraction join. The DuckDB oracle states the fixpoint
    // declaratively as a recursive CTE over the same replayed LSH pairs —
    // union-find and transitive-closure-min provably agree on connected
    // components.
    entry("q_dedup_clusters",
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, sh, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | bandkeys AS (SELECT doc_id, [CAST(mh[2*j-1] AS VARCHAR)||'|'||CAST(mh[2*j] AS VARCHAR)
        |        for j in generate_series(1,8)] bk FROM sig),
        | bands AS (SELECT doc_id, generate_subscripts(bk,1) band, unnest(bk) bkey FROM bandkeys),
        | cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
        |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        | v AS (SELECT a_id, b_id,
        |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
        |       FROM cand JOIN s sa ON cand.a_id = sa.doc_id JOIN s sb ON cand.b_id = sb.doc_id),
        | p AS (SELECT a_id, b_id FROM v WHERE jac >= 0.5),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p),
        | reach AS (SELECT DISTINCT src AS node, src AS lbl FROM e
        |           UNION
        |           SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node),
        | lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
        |SELECT d.doc_id AS doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(COUNT(*) OVER (PARTITION BY COALESCE(l.cluster_id, d.doc_id)) AS BIGINT) AS cluster_size
        |FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir).persist()
      val pairs = verifiedPairs(lshCandidates(sh), sh, 0.5)
        .select(col("a_id"), col("b_id"))
      // (node → component min) via union-find contraction; the heavy
      // candidate chain (shingles → LSH → verify) materializes inside at
      // full shuffle width, the contraction itself runs at a width sized
      // by the PAIR count (orders smaller than the corpus)
      val labels = graft.functions.ConnectedComponents.labels(pairs)
        .toDF("doc_id", "lbl")
      // Cluster sizes come from the LABELS frame (edge nodes only:
      // every labeled node sits in a verified duplicate pair). A window
      // over the full corpus would shuffle ALL documents just to stamp
      // mostly-1s; the derivation-from-labels shape is right at any
      // scale. The two joins back are UNHINTED on purpose: labels is one
      // row per document in any duplicate pair — a corpus FRACTION (real
      // web corpora run 30-50% near-dup rates), not a configuration-
      // bounded frame, so a forced broadcast would OOM exactly at scale.
      // AQE measures it small here and picks the broadcast itself; at
      // 100 TB both left joins degrade gracefully to shuffled equi-joins
      // on doc_id / cluster_id.
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
        .toDF("sz_lbl", "cluster_size") // fresh names — sizes derives from labels (self-join)
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
        .join(sizes, col("cluster_id") === col("sz_lbl"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
        .orderBy(col("doc_id"))
    },

    // ---- CANONICAL KEEPER selection — the dedup ACTION the cluster
    // query sets up: per near-dup cluster keep the highest-quality
    // member (alphabetic ratio DESC, doc_id tie-break — the same quality
    // signal q_token_budget ranks by) and stamp every document with its
    // keeper. The keeper is an AGGREGATION, not a window: one map-side-
    // combinable max_by(struct(q, −doc_id)) per cluster — no
    // corpus-wide ROW_NUMBER partitioned by a mostly-singleton key, so
    // nothing funnels through per-cluster sort state at 100 TB. The
    // keeper frame (one row per cluster) joins back UNHINTED — clusters
    // are a corpus fraction, not configuration-bounded, so AQE decides
    // (broadcast here, shuffled equi-join at scale). Exactness: quality
    // is one double division of exact ints (the q_token_budget
    // contract); the argmax replays as the oracle's window with the
    // identical (q DESC, doc_id) order.
    entry("q_dedup_keep",
      """WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, sh, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | bandkeys AS (SELECT doc_id, [CAST(mh[2*j-1] AS VARCHAR)||'|'||CAST(mh[2*j] AS VARCHAR)
        |        for j in generate_series(1,8)] bk FROM sig),
        | bands AS (SELECT doc_id, generate_subscripts(bk,1) band, unnest(bk) bkey FROM bandkeys),
        | cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
        |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        | v AS (SELECT a_id, b_id,
        |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
        |       FROM cand JOIN s sa ON cand.a_id = sa.doc_id JOIN s sb ON cand.b_id = sb.doc_id),
        | p AS (SELECT a_id, b_id FROM v WHERE jac >= 0.5),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p UNION ALL SELECT b_id, a_id FROM p),
        | reach AS (SELECT DISTINCT src AS node, src AS lbl FROM e
        |           UNION
        |           SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.node),
        | lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
        | qv AS (SELECT doc_id, CAST(length(regexp_replace(text,'[^a-z]','','g')) AS DOUBLE)/length(text) q FROM documents),
        | fl AS (SELECT d.doc_id, qv.q, COALESCE(l.cluster_id, d.doc_id) cluster_id
        |        FROM documents d JOIN qv ON d.doc_id = qv.doc_id LEFT JOIN lab l ON d.doc_id = l.doc_id),
        | kp AS (SELECT cluster_id, doc_id keeper FROM (
        |          SELECT cluster_id, doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) r
        |          FROM fl) WHERE r = 1)
        |SELECT fl.doc_id, fl.cluster_id, kp.keeper AS keeper_id, fl.doc_id = kp.keeper AS kept
        |FROM fl JOIN kp ON fl.cluster_id = kp.cluster_id ORDER BY fl.doc_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir).persist()
      val pairs = verifiedPairs(lshCandidates(sh), sh, 0.5)
        .select(col("a_id"), col("b_id"))
      val labels = graft.functions.ConnectedComponents.labels(pairs)
        .toDF("doc_id", "lbl")
      val fl = Tables(s, dir, "documents")
        // single-file input → spread the per-document regex pass
        .transform(Tables.spread(_, col("doc_id")))
        .select(col("doc_id"),
          (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
            length(col("text"))).as("q"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      // keeper = argmax(q, tie min doc_id) per cluster as ONE bounded-
      // state aggregation: max of struct(q, −doc_id) — no per-cluster
      // window over the (mostly singleton-keyed) corpus
      val kp = fl.groupBy(col("cluster_id").as("k_cl"))
        .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("w"))
        .select(col("k_cl"), (-col("w.nid")).as("keeper_id"))
      fl.join(kp, col("cluster_id") === col("k_cl"))
        .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("kept"))
        .orderBy(col("doc_id"))
    },

    // ---- DECONTAMINATION: flag training documents that share any 5-gram
    // shingle with a held-out eval set (here the deterministic doc_id%20
    // slice; production uses 8-13-grams against real benchmark files —
    // the GPT-3/PaLM-style n-gram collision check). Scale shape: the eval
    // side is a small fraction of the corpus, so its exploded shingle
    // index BROADCASTS to every executor — the 100 TB training side
    // streams through a map-side hash join with NO shuffle; the per-doc
    // hit counts aggregate with map-side partials on doc_id. Grams are
    // HASHED to 60-bit int64 (md5-prefix,
    // [[graft.functions.TextFunctions.md5Prefix64Sql]]) before the
    // explode/join, so the broadcast index and every join key carry
    // 8 bytes instead of a 5-token string — several-fold fewer index
    // bytes at any scale, with a birthday bound that stays negligible at
    // 10^13 grams; the oracle replays the identical hex→int arithmetic,
    // so even a hash collision (which would merge two grams in the
    // distinct counts) cannot diverge the engines.
    entry("q_decontaminate",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+4],' ')
        |        for i in generate_series(1, greatest(len(toks)-4,1))]) sh FROM t),
        | hsh AS (SELECT doc_id, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 15-j) AS BIGINT) for j in generate_series(1,15)]) for x in sh] gh FROM s),
        | ev AS (SELECT doc_id AS eval_id, unnest(gh) AS g FROM hsh WHERE doc_id % 20 = 0),
        | tr AS (SELECT doc_id, unnest(gh) AS g FROM hsh WHERE doc_id % 20 <> 0),
        | hits AS (SELECT tr.doc_id, COUNT(DISTINCT ev.eval_id) AS n_eval_docs,
        |            COUNT(DISTINCT tr.g) AS n_shared_grams
        |          FROM tr JOIN ev USING (g) GROUP BY tr.doc_id)
        |SELECT doc_id, n_eval_docs, n_shared_grams FROM hits ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // r19 (guide §1.2/codegen): the shingle+hash corpus pass was TWO
      // interpreted `transform` lambdas per document (slice+array_join
      // string builds, then md5-hex + conv re-parse) plus a string
      // array_distinct. graft_gramhash64 emits the IDENTICAL 60-bit
      // md5-prefix values in one native loop (VectorExprSpec pins the
      // value-set equality); its sorted-unique order is safe because
      // every consumer explodes into COUNT(DISTINCT …) aggregates.
      val sh5 = Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id")))
        .withColumn("toks", tokens("text"))
        .select(col("doc_id"),
          graft.plans.VectorExpressions.gramHash64(col("toks"), 5).as("gh"))
      val ev = sh5.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("eval_id"), explode(col("gh")).as("g"))
      val tr = sh5.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), explode(col("gh")).as("g"))
      // the eval-side broadcast is a CHECKED contract, not prose: the
      // gate's %20 slice is corpus-proportional by construction, so a
      // corpus change that outgrows the bound aborts loudly here
      // instead of OOMing executors (see functions.Guards)
      tr.join(graft.functions.Guards.boundedBroadcast(ev, "q_decontaminate eval gram index"), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
          countDistinct(col("g")).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    },

    // ---- EXACT-SUBSTRING decontamination — the complement of the
    // n-gram collision check above: a training document is flagged when
    // it literally CONTAINS an eval document's opening characters (the
    // copy-paste/crawl-overlap leak the tokenized n-gram pass can miss
    // across tokenizer boundaries, and vice versa). The probe is each
    // eval doc's first 24 characters; production swaps in real
    // benchmark answer strings. Scale shape: the snippet list is a
    // configuration-bounded eval suite — broadcast through the CHECKED
    // [[graft.functions.Guards.boundedBroadcast]] contract — and the
    // corpus streams through one narrow contains() scan per snippet
    // batch with NO shuffle; only flagged (doc × snippet) hits reach
    // the per-doc aggregate (map-side combinable). The eval slice is
    // PINNED to the fixed id range doc_id < 5000 (every gate scale's
    // whole id space, so gate outputs are unchanged) — a %-of-corpus
    // eval side would grow WITH the corpus and turn the scan quadratic,
    // which the sf1 scaling harness measured (exp 1.38) before the pin;
    // a real eval suite is a fixed benchmark, not a corpus share.
    // Exactness: instr/strpos are the same 1-based/0-absent contract,
    // byte-identical on this ASCII corpus.
    entry("q_decontaminate_exact",
      """WITH ev AS (SELECT doc_id eid, substr(text, 1, 24) snip FROM documents
        |            WHERE doc_id % 20 = 0 AND doc_id < 5000 AND length(text) >= 24),
        | tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
        | h AS (SELECT tr.doc_id, ev.eid FROM tr CROSS JOIN ev WHERE strpos(tr.text, ev.snip) > 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_eval_hits, MIN(eid) first_eval
        |FROM h GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // r18 (guide §1.2, VERDICT task 2): the ×|eval| per-snippet instr
      // scans (exp 1.27 at sf100) become ONE Aho–Corasick pass per doc.
      // The eval suite is collected to the driver under the SAME loud
      // bound boundedBroadcast enforced (it is a fixed benchmark, never
      // corpus-proportional — the automaton over it is model-sized
      // driver state, broadcast once); each matched (doc, eid) pair is
      // exactly an `instr(text, snip) > 0` hit of the oracle's cross
      // join, so count/min aggregate to identical rows.
      val snips = docs.filter(col("doc_id") % 20 === 0 && col("doc_id") < 5000
          && length(col("text")) >= 24)
        .select(col("doc_id").as("eid"), substring(col("text"), 1, 24).as("snip"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      require(snips.length <= graft.functions.Guards.MaxBroadcastRows,
        s"q_decontaminate_exact eval snippets has ${snips.length} rows, above the " +
          s"bound ${graft.functions.Guards.MaxBroadcastRows}: corpus-proportional, " +
          "not configuration-bounded")
      val ac = s.sparkContext.broadcast(graft.functions.AhoCorasick(snips))
      val hitIds = udf((text: String) => ac.value.matchedIds(text))
      docs.filter(col("doc_id") % 20 =!= 0)
        .transform(Tables.spread(_, col("doc_id"))) // single-file input → spread the scan
        .select(col("doc_id"), explode(hitIds(col("text"))).as("eid"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_eval_hits"), min(col("eid")).as("first_eval"))
        .orderBy(col("doc_id"))
    },

    // ---- WINNOWING fingerprints (Schleimer et al. 2003, the MOSS
    // algorithm): per document, hash every positional 3-gram (32-bit
    // md5-prefix, the sketch-hash family) and keep the DISTINCT minimum
    // of each sliding window of 4 — a position-robust document sketch
    // whose size is ~2/(w+1) of the gram count, with the guarantee that
    // any shared run of w+2 tokens between two documents shares a
    // fingerprint. The audit reports per-doc gram/fingerprint counts and
    // the compression ratio; at corpus scale the fingerprint SET is the
    // unit that feeds the same bucket-join candidate pipeline as
    // MinHash/SimHash (never all-pairs). Everything here is ONE narrow
    // codegen'd map over the scan — no shuffle but the presentation
    // sort. Exactness: integer hashes, integer window minima; the one
    // double is the final ratio division.
    entry("q_winnow_fingerprint",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | g AS (SELECT doc_id, [list_sum([(strpos('0123456789abcdef', substr(md5(array_to_string(toks[i:i+2],' ')), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)])
        |        for i in generate_series(1, greatest(len(toks)-2,1))] h FROM t),
        | w AS (SELECT doc_id, len(h) n_grams,
        |         list_distinct([list_min(h[i:i+3]) for i in generate_series(1, greatest(len(h)-3,1))]) fp
        |       FROM g)
        |SELECT doc_id, CAST(n_grams AS BIGINT) n_grams, CAST(len(fp) AS BIGINT) n_fingerprints,
        |  CAST(len(fp) AS DOUBLE)/n_grams AS fp_ratio
        |FROM w ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id")))
        .withColumn("toks", tokens("text"))
        // POSITIONAL gram hashes (not the distinct shingle set): the
        // window structure is the point of winnowing
        .withColumn("h", expr(
          "transform(sequence(1, greatest(size(toks)-2, 1)), " +
            "i -> CAST(conv(substring(md5(array_join(slice(toks, i, 3), ' ')), 1, 8), 16, 10) AS BIGINT))"))
        .withColumn("fp", expr(
          "array_distinct(transform(sequence(1, greatest(size(h)-3, 1)), " +
            "i -> array_min(slice(h, i, 4))))"))
        .select(col("doc_id"), size(col("h")).cast("long").as("n_grams"),
          size(col("fp")).cast("long").as("n_fingerprints"),
          (size(col("fp")).cast("double") / size(col("h"))).as("fp_ratio"))
        .orderBy(col("doc_id"))
    },

    // ---- MinHash CALIBRATION — the sketch-quality audit every LSH
    // deployment owes its threshold: for every VERIFIED near-dup pair,
    // compare the 16-slot signature estimate (matching slots / 16)
    // against the exact Jaccard the verifier computed anyway. The
    // estimator's per-pair error pins the banding recall math (P[slot
    // match] = J, so |est − J| concentrates within ~1/√16); drift here
    // means the hash family or banding broke, long before recall decays
    // visibly. Cost: the signatures already exist for candidate
    // generation (hashed once, persisted), so calibration adds only two
    // signature joins on the BOUNDED verified-pair set — never corpus
    // work. Exactness: slot equality is integer, est and abs_err are
    // single double ops replayed identically by the oracle.
    entry("q_minhash_calibration",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, sh, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, sh, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | bandkeys AS (SELECT doc_id, [CAST(mh[2*j-1] AS VARCHAR)||'|'||CAST(mh[2*j] AS VARCHAR)
        |        for j in generate_series(1,8)] bk FROM sig),
        | bands AS (SELECT doc_id, generate_subscripts(bk,1) band, unnest(bk) bkey FROM bandkeys),
        | cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
        |          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        | v AS (SELECT a_id, b_id,
        |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)/(len(sa.sh)+len(sb.sh)-len(list_intersect(sa.sh, sb.sh))) jac
        |       FROM cand JOIN s sa ON cand.a_id = sa.doc_id JOIN s sb ON cand.b_id = sb.doc_id),
        | p AS (SELECT a_id, b_id, jac FROM v WHERE jac >= 0.5),
        | m AS (SELECT p.a_id, p.b_id, p.jac,
        |         len(list_filter([sa.mh[i] = sb.mh[i] for i in generate_series(1,16)], x -> x)) n_match
        |       FROM p JOIN sig sa ON p.a_id = sa.doc_id JOIN sig sb ON p.b_id = sb.doc_id)
        |SELECT a_id, b_id, jac, CAST(n_match AS BIGINT) n_match,
        |  CAST(n_match AS DOUBLE)/16 est, abs(CAST(n_match AS DOUBLE)/16 - jac) abs_err
        |FROM m ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // sign each shingle set ONCE; candidates, verification and the
      // calibration joins all read the persisted signed frame
      val sg = shingled(s, dir).withColumn("mh", minhashSignature("sh", 16)).persist()
      val pairs = jaccardPairs(lshCandidatesFromSig(sg), sg.select("doc_id", "sh"))
        .filter(col("jac") >= 0.5)
        .select(col("a_id"), col("b_id"), col("jac"))
      val ma = sg.select(col("doc_id").as("a_id"), col("mh").as("ma"))
      val mb = sg.select(col("doc_id").as("b_id"), col("mh").as("mb"))
      pairs.join(ma, "a_id").join(mb, "b_id")
        .withColumn("n_match",
          // r19: native agreement count (see q_minhash_union note above)
          graft.plans.VectorExpressions.agree(col("ma"), col("mb")).cast("long"))
        .withColumn("est", col("n_match").cast("double") / 16)
        .select(col("a_id"), col("b_id"), col("jac"), col("n_match"), col("est"),
          abs(col("est") - col("jac")).as("abs_err"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ---- CONTAINMENT near-dup (near-superset detection — catches a
    // document embedded inside a larger one, which Jaccard misses because
    // the union grows): containment(a⊆b) = |A∩B|/|A| ≥ 0.6. The filter is
    // the ASYMMETRIC prefix variant: the required overlap ⌈t·|A|⌉ depends
    // only on A, so A's sorted prefix (|A| − ⌈t·|A|⌉ + 1 elements) is
    // probed against B's FULL shingle index; if B holds none of A's
    // prefix, |A∩B| ≤ ⌈t|A|⌉ − 1 < t|A|. Exact verify on candidates only.
    entry("q_dedup_containment",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents WHERE doc_id < 1000),
        | s AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t)
        |SELECT a.doc_id a_id, b.doc_id b_id,
        |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)/len(a.sh) containment
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)/len(a.sh) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val sh = shingled(s, dir).filter(col("doc_id") < 1000).persist()
      val pref = sh.select(col("doc_id"), explode(expr(
        "slice(array_sort(sh), 1, size(sh) - CAST(ceil(0.6 * size(sh)) AS INT) + 1)")).as("tok"))
      val full = sh.select(col("doc_id").as("b_id"), explode(col("sh")).as("tok"))
      val cand = pref.join(full, Seq("tok"))
        .filter(col("doc_id") =!= col("b_id"))
        .select(col("doc_id").as("a_id"), col("b_id"))
        .distinct()
      val sa = sh.select(col("doc_id").as("a_id"), col("sh").as("sha"))
      val sb = sh.select(col("doc_id").as("b_id"), col("sh").as("shb"))
      cand.join(sa, "a_id").join(sb, "b_id")
        .withColumn("containment",
          expr("CAST(size(array_intersect(sha, shb)) AS DOUBLE) / size(sha)"))
        .filter(col("containment") >= 0.6)
        .select(col("a_id"), col("b_id"), col("containment"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ---- SimHash near-dup candidates: 64-bit fingerprint from per-token
    // md5 bit-majorities (one native pass, graft.plans.SimHash64), pairs
    // at hamming ≤ 1 found by PIGEONHOLE BLOCKING: split the fingerprint
    // into two 32-bit halves — a pair at hamming ≤ 1 differs in at most
    // one bit, so at least one half matches EXACTLY. Candidates are the
    // union of two equi-joins on half equality (the classic
    // Manku/Jain/Sarma simhash sharding scheme); the exact hamming check
    // is then one xor + bit_count per candidate instead of a 64-iteration
    // string compare per all-pair. Output identical to the brute-force
    // oracle; work scales with half-collisions, not n².
    entry("q_dedup_simhash",
      """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents WHERE doc_id < 1000),
        | h AS (SELECT doc_id, [md5(x) for x in list_distinct(toks)] hs, len(list_distinct(toks)) n FROM t),
        | f AS (SELECT doc_id, array_to_string([
        |   CASE WHEN 2 * len(list_filter(hs, m ->
        |     ((strpos('0123456789abcdef', substr(m, CAST(b // 4 AS INT) + 1, 1)) - 1) // CAST(pow(2, b % 4) AS INT)) % 2 = 1
        |   )) >= n THEN '1' ELSE '0' END for b in generate_series(0,63)], '') fp FROM h)
        |SELECT a.doc_id a_id, b.doc_id b_id,
        |  len(list_filter(generate_series(1,64), i -> substr(a.fp, i, 1) != substr(b.fp, i, 1))) hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(generate_series(1,64), i -> substr(a.fp, i, 1) != substr(b.fp, i, 1))) <= 1
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val f = Tables(s, dir, "documents")
        .filter(col("doc_id") < 1000)
        .transform(Tables.spread(_, col("doc_id"))) // single-file input → spread the pair loop
        .withColumn("toks", tokens("text"))
        .withColumn("hs", expr("transform(array_distinct(toks), x -> md5(x))"))
        .withColumn("n", expr("size(array_distinct(toks))"))
        .select(col("doc_id"), simhashBits("hs", "n").as("fp"))
        .withColumn("hi", expr("CAST(conv(substring(fp, 1, 32), 2, 10) AS BIGINT)"))
        .withColumn("lo", expr("CAST(conv(substring(fp, 33, 32), 2, 10) AS BIGINT)"))
        .persist()
      val a = f.select(col("doc_id").as("a_id"), col("hi").as("ha"), col("lo").as("la"))
      val b = f.select(col("doc_id").as("b_id"), col("hi").as("hb"), col("lo").as("lb"))
      a.join(b, col("ha") === col("hb") && col("a_id") < col("b_id"))
        .unionByName(a.join(b, col("la") === col("lb") && col("a_id") < col("b_id")))
        .withColumn("hamming",
          expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS INT)"))
        .filter(col("hamming") <= 1)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    },

    // ---- Embedding-cosine near-dup pairs: quantized-exact arithmetic
    // (see VectorFunctions). Quantize + norm once per vector (narrow map),
    // then pairwise dot on a bounded slice (vec_id < 1000) — all-pairs is
    // the O(n²) correctness baseline; at scale the pairing goes through
    // the LSH/IVF paths (q_ann_lsh / q_knn_ivf), which this exact contract
    // validates.
    entry("q_dedup_embedding",
      """WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1048576.0) AS BIGINT) for x in embedding] q FROM embeddings WHERE vec_id < 1000),
        | terms AS (SELECT vec_id, x*x t FROM (SELECT vec_id, unnest(q) x FROM e)),
        | n AS (SELECT vec_id, sqrt(CAST(SUM(t) AS DOUBLE)) nrm FROM terms GROUP BY 1),
        | p0 AS (SELECT a.vec_id a_id, b.vec_id b_id, a.q aq, b.q bq FROM e a JOIN e b ON a.vec_id < b.vec_id),
        | pt AS (SELECT a_id, b_id, aq[i]*bq[i] t FROM p0 CROSS JOIN generate_series(1,64) g(i)),
        | p AS (SELECT a_id, b_id, CAST(SUM(t) AS DOUBLE) dot FROM pt GROUP BY 1,2)
        |SELECT a_id, b_id, dot/NULLIF(na.nrm*nb.nrm, 0) cosine
        |FROM p JOIN n na ON p.a_id = na.vec_id JOIN n nb ON p.b_id = nb.vec_id
        |WHERE dot/NULLIF(na.nrm*nb.nrm, 0) >= 0.4 ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 1000)
        .transform(Tables.spread(_, col("vec_id"))) // single-file input → spread the pair loop
        .select(col("vec_id"), quantize("embedding").as("q"))
        .withColumn("nrm", qnorm("q"))
      val a = e.select(col("vec_id").as("a_id"), col("q").as("aq"), col("nrm").as("anrm"))
      val b = e.select(col("vec_id").as("b_id"), col("q").as("bq"), col("nrm").as("bnrm"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cosine", cosineFrom(qdot("aq", "bq"), col("anrm"), col("bnrm")))
        .filter(col("cosine") >= 0.4)
        .select(col("a_id"), col("b_id"), col("cosine"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ---- Cross-SOURCE n-gram overlap matrix — the corpus-level overlap
    // audit run before mixing feeds into one training set (two mirrors
    // of the same crawl would dominate any mixture weights; the
    // decontamination op answers train-vs-EVAL overlap, this one answers
    // source-vs-SOURCE): exact bigram-set Jaccard for every source pair.
    // Bigrams are hashed to 60-bit int64 (md5-prefix — 8-byte keys, the
    // repo-wide wide-key family; the oracle replays the hex→int
    // arithmetic so a collision cannot diverge the engines) and
    // DISTINCT'd per source, so the self-join carries one row per
    // (source, bigram TYPE) — vocabulary-scale, not corpus-scale — and
    // is equi-keyed on the hash (co-partitioned); a bigram shared by all
    // S sources expands to C(S,2) pairs, bounded by the SOURCE count
    // squared, never by data volume. The sizes frame (one row per
    // source) joins back unhinted — AQE broadcasts it. Output is the
    // C(S,2) matrix with exact intersection counts and one double
    // division per pair.
    entry("q_source_overlap",
      s"""WITH t AS (SELECT source, string_split(text,' ') toks FROM documents),
        | bg AS (SELECT source, unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)]) b
        |        FROM t WHERE len(toks) >= 2),
        | s AS (SELECT DISTINCT source, ${md5Prefix64Oracle("b")} bh FROM bg),
        | sz AS (SELECT source, COUNT(*) nsh FROM s GROUP BY 1),
        | pr AS (SELECT a.source sa, b.source sb, COUNT(*) inter
        |        FROM s a JOIN s b ON a.bh = b.bh AND a.source < b.source GROUP BY 1,2),
        | o AS (SELECT pr.sa, pr.sb, za.nsh na, zb.nsh nb, pr.inter
        |       FROM pr JOIN sz za ON pr.sa = za.source JOIN sz zb ON pr.sb = zb.source)
        |SELECT sa, sb, na, nb, inter, CAST(inter AS DOUBLE)/(na + nb - inter) jac
        |FROM o ORDER BY sa, sb""".stripMargin) { (s, dir) =>
      // hashed-distinct (source, bigram-type) frame: sizes + both join
      // sides read it — persist so shingling/hashing runs once (cleared
      // by the harness between queries)
      val sdf = Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id")))
        .select(col("source"), tokens("text").as("toks"))
        .select(col("source"), explode(expr(
          // size < 2 guard: sequence(1, 0) DESCENDS where "no bigrams" is meant
          "CASE WHEN size(toks) < 2 THEN CAST(array() AS ARRAY<BIGINT>) " +
            "ELSE transform(sequence(1, size(toks) - 1), " +
            s"i -> ${md5Prefix64Sql("concat(toks[i-1], ' ', toks[i])")}) END")).as("bh"))
        .distinct()
        .persist()
      val sz = sdf.groupBy(col("source")).agg(count(lit(1)).as("nsh"))
      val a = sdf.toDF("sa", "a_bh")
      val b = sdf.toDF("sb", "b_bh")
      val pr = a.join(b, col("a_bh") === col("b_bh") && col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
      pr.join(sz.toDF("za", "na"), col("sa") === col("za"))
        .join(sz.toDF("zb", "nb"), col("sb") === col("zb"))
        .select(col("sa"), col("sb"), col("na"), col("nb"), col("inter"),
          (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
        .orderBy(col("sa"), col("sb"))
    },

    // ---- MinHash signature UNION (sketch merge): per-source merged
    // signatures — element-wise MIN over the source's document
    // signatures, which is EXACTLY the signature of the union of the
    // shingle sets (min is associative/commutative/idempotent, so the
    // merge is order- and partitioning-free) — then pairwise cross-
    // source Jaccard ESTIMATES from slot agreement. This is the
    // mergeability property that makes MinHash a distributed-aggregation
    // sketch, demonstrated as an operator: where q_source_overlap pays
    // a vocabulary-scale hash self-join for EXACT overlap, this pass
    // reduces the corpus map-side to |sources|×16 ints and compares
    // THOSE — the 100 TB shape is one algebraic aggregate, and the pair
    // comparison runs on a configuration-bounded frame. Same
    // shingle/hash family as q_dedup_minhash_lsh, so the oracle replays
    // it verbatim.
    entry("q_minhash_union",
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') toks FROM documents),
        | s AS (SELECT doc_id, source, list_distinct([array_to_string(toks[i:i+2],' ')
        |        for i in generate_series(1, greatest(len(toks)-2,1))]) sh FROM t),
        | bs AS (SELECT doc_id, source, [list_sum([(strpos('0123456789abcdef', substr(md5(x), j, 1)) - 1)
        |        * CAST(pow(16, 8-j) AS BIGINT) for j in generate_series(1,8)]) for x in sh] bases FROM s),
        | sig AS (SELECT doc_id, source, [list_min([((2*i+1)*b + 1000003*i) % 2147483647 for b in bases])
        |        for i in generate_series(1,16)] mh FROM bs),
        | m AS (SELECT source, i, MIN(mh[i]) mn FROM sig CROSS JOIN generate_series(1,16) g(i) GROUP BY 1,2),
        | p AS (SELECT a.source source_a, b.source source_b,
        |         CAST(COUNT(CASE WHEN a.mn = b.mn THEN 1 END) AS BIGINT) n_match
        |       FROM m a JOIN m b ON a.i = b.i AND a.source < b.source GROUP BY 1,2)
        |SELECT source_a, source_b, n_match, CAST(n_match AS DOUBLE)/16 AS est_jaccard
        |FROM p ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      val sg = Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id")))
        .withColumn("toks", tokens("text"))
        .select(col("source"), shingles("toks", 3).as("sh"))
        .withColumn("mh", minhashSignature("sh", 16))
      val mins = (0 until 16).map(i => min(col("mh")(i)).as(s"m$i"))
      val merged = sg.groupBy(col("source"))
        .agg(mins.head, mins.tail: _*)
        .select(col("source"), array((0 until 16).map(i => col(s"m$i")): _*).as("mn"))
      // merged signatures: one row per source — bounded by the source
      // taxonomy, never the corpus
      val a = merged.toDF("source_a", "mna")
      val b = merged.toDF("source_b", "mnb")
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .withColumn("n_match",
          // r19: native agreement count over the merged signatures
          graft.plans.VectorExpressions.agree(col("mna"), col("mnb")).cast("long"))
        .select(col("source_a"), col("source_b"), col("n_match"),
          (col("n_match").cast("double") / 16).as("est_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- NORMALIZATION-EQUIVALENCE dedup: canonicalize text (lowercase,
    // collapse every non-alphanumeric run to one space, trim) BEFORE
    // hashing, so trivially-reformatted copies — case changes, extra
    // whitespace, punctuation-only edits — collapse into one group where
    // q_dedup_exact's raw-byte hash sees distinct documents (the C4/CCNet
    // normalize-then-hash step that runs before any MinHash is worth its
    // cost). Scale shape: canonicalization is a per-row codegen'd
    // expression chain (no UDF); groups form on the 60-bit int64 md5
    // prefix of the canonical form ([[graft.functions.TextFunctions
    // .md5Prefix64Sql]] — 8-byte shuffle keys), one map-side-combined
    // aggregate; the keeper frame (one row per group) joins back
    // AQE-sized. Keeper = MIN(doc_id) — a bounded-state aggregate, never
    // a corpus-wide window. The oracle replays the identical
    // canonicalization and hex→int arithmetic, so even a hash collision
    // cannot diverge the engines.
    entry("q_normalize_dedup",
      s"""WITH c AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) canon FROM documents),
        | h AS (SELECT doc_id, ${md5Prefix64Oracle("canon")} ch FROM c),
        | g AS (SELECT ch, COUNT(*) n_members, MIN(doc_id) keeper FROM h GROUP BY ch)
        |SELECT h.doc_id, g.keeper AS keeper_id, g.n_members,
        |  h.doc_id = g.keeper AS kept
        |FROM h JOIN g ON h.ch = g.ch ORDER BY h.doc_id""".stripMargin) { (s, dir) =>
      val h = Tables(s, dir, "documents")
        .transform(Tables.spread(_, col("doc_id"))) // single-file scan → spread the regex pass
        .withColumn("canon", trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .select(col("doc_id"), expr(md5Prefix64Sql("canon")).as("ch"))
      val g = h.groupBy(col("ch").as("g_ch"))
        .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("keeper_id"))
      h.join(g, col("ch") === col("g_ch"))
        .select(col("doc_id"), col("keeper_id"), col("n_members"),
          (col("doc_id") === col("keeper_id")).as("kept"))
        .orderBy(col("doc_id"))
    },

    // ---- Dedup SCALING CURVE: duplicate rate at nested corpus prefixes
    // (1/8, 1/4, 1/2, full by doc_id — ingest order) — the "how much
    // UNIQUE data do we actually have left" projection a corpus build
    // runs before committing to another crawl epoch: a dup rate that
    // GROWS along the curve means new data increasingly re-collects what
    // the lake already holds, and the unique-token budget is saturating.
    // Content key = 64-bit md5 prefix of the 40-char head snippet (the
    // q_decontaminate_exact snippet-identity convention; the production
    // key is the full content hash v2 — the head fingerprint also gives
    // this all-unique synthetic corpus real duplicate groups). EXACT
    // everywhere: prefix membership is the cross-multiplied integer test
    // doc_id·8 < max·k (no division-rounding ambiguity), a prefix's
    // distinct count is the count of groups whose FIRST occurrence falls
    // inside it (min-id per group — one pass, no per-prefix rescans),
    // and the four dup rates are one double division each. Scale shape:
    // ONE shuffle on the 8-byte content key (map-side combined), a 1-row
    // threshold frame broadcast, then a 1-row fold to the 4-row curve.
    entry("q_dedup_scaling",
      s"""WITH m AS (SELECT MAX(doc_id)+1 mm FROM documents),
        | h AS (SELECT doc_id, ${md5Prefix64Oracle("substr(text, 1, 40)")} ch FROM documents),
        | g AS (SELECT ch, MIN(doc_id) fid,
        |    COUNT(CASE WHEN doc_id*8 < (SELECT mm FROM m)*1 THEN 1 END) c1,
        |    COUNT(CASE WHEN doc_id*8 < (SELECT mm FROM m)*2 THEN 1 END) c2,
        |    COUNT(CASE WHEN doc_id*8 < (SELECT mm FROM m)*4 THEN 1 END) c4,
        |    COUNT(*) c8
        |  FROM h GROUP BY 1),
        | a AS (SELECT
        |    CAST(SUM(c1) AS BIGINT) r1, CAST(SUM(c2) AS BIGINT) r2,
        |    CAST(SUM(c4) AS BIGINT) r4, CAST(SUM(c8) AS BIGINT) r8,
        |    COUNT(CASE WHEN fid*8 < (SELECT mm FROM m)*1 THEN 1 END) u1,
        |    COUNT(CASE WHEN fid*8 < (SELECT mm FROM m)*2 THEN 1 END) u2,
        |    COUNT(CASE WHEN fid*8 < (SELECT mm FROM m)*4 THEN 1 END) u4,
        |    COUNT(*) u8
        |  FROM g),
        | curve AS (
        |  SELECT CAST(1 AS BIGINT) scale_eighths, r1 n_rows, u1 n_unique FROM a UNION ALL
        |  SELECT 2, r2, u2 FROM a UNION ALL
        |  SELECT 4, r4, u4 FROM a UNION ALL
        |  SELECT 8, r8, u8 FROM a)
        |SELECT scale_eighths, n_rows, n_unique,
        |  CAST(n_rows - n_unique AS DOUBLE)/n_rows AS dup_rate
        |FROM curve ORDER BY scale_eighths""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val m = docs.agg((max(col("doc_id")) + 1).as("mm"))
      val h = docs.crossJoin(broadcast(m))
        .select(col("doc_id"), col("mm"),
          expr(md5Prefix64Sql("substring(text, 1, 40)")).as("ch"))
      def inPrefix(id: org.apache.spark.sql.Column, k: Int) =
        id * 8 < col("mm") * k
      val g = h.groupBy(col("ch"))
        .agg(min(col("doc_id")).as("fid"), min(col("mm")).as("mm2"),
          count(when(inPrefix(col("doc_id"), 1), 1)).as("c1"),
          count(when(inPrefix(col("doc_id"), 2), 1)).as("c2"),
          count(when(inPrefix(col("doc_id"), 4), 1)).as("c4"),
          count(lit(1)).as("c8"))
        .withColumnRenamed("mm2", "mm")
      val a = g.agg(
        sum(col("c1")).as("r1"), sum(col("c2")).as("r2"),
        sum(col("c4")).as("r4"), sum(col("c8")).as("r8"),
        count(when(inPrefix(col("fid"), 1), 1)).as("u1"),
        count(when(inPrefix(col("fid"), 2), 1)).as("u2"),
        count(when(inPrefix(col("fid"), 4), 1)).as("u4"),
        count(lit(1)).as("u8"))
      a.select(expr(
          "stack(4, CAST(1 AS BIGINT), r1, u1, CAST(2 AS BIGINT), r2, u2, " +
            "CAST(4 AS BIGINT), r4, u4, CAST(8 AS BIGINT), r8, u8) " +
            "AS (scale_eighths, n_rows, n_unique)"))
        .select(col("scale_eighths"), col("n_rows"), col("n_unique"),
          ((col("n_rows") - col("n_unique")).cast("double") / col("n_rows")).as("dup_rate"))
        .orderBy(col("scale_eighths"))
    },

    // ---- Train/eval SPLIT-LEAKAGE audit: duplicate content straddling
    // fold boundaries — the contamination a per-document hash split
    // (q_fold_split) silently produces whenever the corpus still carries
    // copies: the same text lands in train AND eval, and every eval
    // metric on it is memorization, not generalization. Groups are the
    // head-fingerprint content groups (the q_dedup_scaling key); a group
    // is LEAKY when its members span >1 fold. n_moved_docs prices the
    // fix: re-keying every member to its group REPRESENTATIVE's fold
    // (first occurrence — deterministic) moves exactly those documents
    // and provably zeroes the leak, since a group then has one fold by
    // construction. Exact int64 counts end to end. Scale shape: ONE
    // shuffle on the content key; the per-group first-fold window runs
    // inside duplicate groups (bounded by copy multiplicity, never
    // corpus-wide); the audit folds to a single row.
    entry("q_split_leakage",
      s"""WITH f AS (SELECT doc_id,
        |    ${md5Prefix64Oracle("substr(text, 1, 40)")} ch,
        |    CAST(${md5Prefix64Oracle("'fold_' || CAST(doc_id AS VARCHAR)")} % 5 AS BIGINT) fold
        |  FROM documents),
        | w AS (SELECT doc_id, ch, fold,
        |    FIRST_VALUE(fold) OVER (PARTITION BY ch ORDER BY doc_id) gfold FROM f),
        | g AS (SELECT ch, COUNT(*) cnt, COUNT(DISTINCT fold) nf,
        |    COUNT(CASE WHEN fold <> gfold THEN 1 END) moved
        |  FROM w GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) n_groups, CAST(SUM(cnt) AS BIGINT) n_docs,
        |  COUNT(CASE WHEN cnt > 1 THEN 1 END) n_dup_groups,
        |  COUNT(CASE WHEN nf > 1 THEN 1 END) n_leaky_groups,
        |  CAST(SUM(CASE WHEN nf > 1 THEN cnt ELSE 0 END) AS BIGINT) n_leaked_docs,
        |  CAST(SUM(moved) AS BIGINT) n_moved_docs
        |FROM g""".stripMargin) { (s, dir) =>
      val byGroup = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ch")).orderBy(col("doc_id"))
      val f = Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr(md5Prefix64Sql("substring(text, 1, 40)")).as("ch"),
          (md5Prefix64("concat('fold_', CAST(doc_id AS STRING))") % 5).as("fold"))
      val w = f.withColumn("gfold", first(col("fold")).over(byGroup))
      val g = w.groupBy(col("ch"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("fold")).as("nf"),
          count(when(col("fold") =!= col("gfold"), 1)).as("moved"))
      g.agg(count(lit(1)).as("n_groups"), sum(col("cnt")).as("n_docs"),
        count(when(col("cnt") > 1, 1)).as("n_dup_groups"),
        count(when(col("nf") > 1, 1)).as("n_leaky_groups"),
        sum(when(col("nf") > 1, col("cnt")).otherwise(0L)).as("n_leaked_docs"),
        sum(col("moved")).as("n_moved_docs"))
    },

    // ---- Token-weighted DUP INFLATION: how much of the TOKEN budget —
    // not the doc count — is duplicate content (every group member
    // beyond the first-by-id keeper is inflation), split by source. A
    // 5% doc-level dup rate hides a 30% token-level one when the copies
    // are the long documents — and training cost is paid in tokens, so
    // this is the number the dedup business case is made of
    // (q_dedup_scaling counts docs over prefixes; this weighs tokens
    // per source). Exact int64 sums; keeper = min doc_id per
    // head-fingerprint group via one window inside duplicate groups
    // (bounded by copy multiplicity); one double division per source.
    // Scale shape: ONE shuffle on the 8-byte content key; the source
    // rollup reduces to the source alphabet.
    entry("q_dup_inflation",
      s"""WITH h AS (SELECT doc_id, source, len(string_split(text,' ')) t,
        |     ${md5Prefix64Oracle("substr(text, 1, 40)")} ch FROM documents),
        | w AS (SELECT doc_id, source, t, ch,
        |     MIN(doc_id) OVER (PARTITION BY ch) keeper FROM h)
        |SELECT source, COUNT(*) n_docs,
        |  COUNT(CASE WHEN doc_id <> keeper THEN 1 END) n_dup_docs,
        |  CAST(SUM(t) AS BIGINT) total_tokens,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id <> keeper THEN t END), 0) AS BIGINT) dup_tokens,
        |  CAST(COALESCE(SUM(CASE WHEN doc_id <> keeper THEN t END), 0) AS DOUBLE)
        |    / SUM(t) AS token_inflation
        |FROM w GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
      val byGroup = org.apache.spark.sql.expressions.Window.partitionBy(col("ch"))
      val h = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(tokens("text")).cast("long").as("t"),
          expr(md5Prefix64Sql("substring(text, 1, 40)")).as("ch"))
        .withColumn("keeper", min(col("doc_id")).over(byGroup))
      h.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("doc_id") =!= col("keeper"), 1)).as("n_dup_docs"),
          sum(col("t")).as("total_tokens"),
          coalesce(sum(when(col("doc_id") =!= col("keeper"), col("t"))), lit(0L))
            .as("dup_tokens"),
          (coalesce(sum(when(col("doc_id") =!= col("keeper"), col("t"))), lit(0L))
            .cast("double") / sum(col("t"))).as("token_inflation"))
        .orderBy(col("source"))
    },

    // ---- CHUNK-granularity dedup audit: repeated 10-token chunks per
    // source — document-level dedup misses boilerplate that repeats
    // INSIDE otherwise-distinct documents (headers, licence blocks,
    // navigation), and chunk-level training dedup (the "train on unique
    // chunks" recipe) needs exactly this rate to size its win. Chunks
    // are fixed non-overlapping 10-token windows built NARROWLY from
    // each doc's token array (integer count (len+9) DIV 10, clamped ≥ 1
    // on both engines so the empty doc cannot diverge, never a
    // per-token explode-then-regroup); keys are the 8-byte md5-prefix
    // family. Exact int counts, one double division per source. Scale
    // shape: ONE shuffle on the chunk key builds the global occurrence
    // table (map-side combined), the join back is chunk-keyed, the
    // final aggregate reduces to the source alphabet.
    entry("q_chunk_dedup",
      s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') toks FROM documents),
        | c AS (SELECT doc_id, source, unnest([array_to_string(toks[(i*10+1):(i*10+10)], ' ')
        |          for i in range(greatest((len(toks)+9)//10, 1))]) chunk FROM d),
        | h AS (SELECT source, ${md5Prefix64Oracle("chunk")} chash FROM c),
        | g AS (SELECT chash, COUNT(*) n FROM h GROUP BY 1)
        |SELECT h.source, COUNT(*) n_chunks,
        |  COUNT(CASE WHEN g.n > 1 THEN 1 END) n_dup_instances,
        |  CAST(COUNT(CASE WHEN g.n > 1 THEN 1 END) AS DOUBLE)/COUNT(*) dup_chunk_rate
        |FROM h JOIN g USING (chash) GROUP BY 1 ORDER BY source""".stripMargin) { (s, dir) =>
      // checkpoint the hashed chunk frame: the occurrence aggregate `g`
      // and the join back both consume it — without the checkpoint the
      // tokenize→chunk→md5 explode (a full corpus re-chunking) runs
      // twice in one query (registry-released after the query)
      val h = graft.functions.Checkpoints.lazyLocal(
        Tables(s, dir, "documents")
          .transform(Tables.spread(_, col("doc_id")))
          .withColumn("toks", tokens("text"))
          .select(col("source"), explode(expr(
            "transform(sequence(1, greatest((size(toks)+9) DIV 10, 1)), " +
              "i -> array_join(slice(toks, (i-1)*10+1, 10), ' '))")).as("chunk"))
          .select(col("source"), expr(md5Prefix64Sql("chunk")).as("chash")))
      val g = h.groupBy(col("chash").as("g_chash")).agg(count(lit(1)).as("n"))
      h.join(g, col("chash") === col("g_chash"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("n") > 1, 1)).as("n_dup_instances"),
          (count(when(col("n") > 1, 1)).cast("double") / count(lit(1)))
            .as("dup_chunk_rate"))
        .orderBy(col("source"))
    },

    // ---- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    // dedup as cluster-then-prune — assign every vector to its nearest
    // centroid (the exact rational argmin of q_kmeans_step /
    // [[graft.functions.KMeans.assign]], label-initialized centroids),
    // then mark a vector a semantic duplicate iff some LOWER-id vector
    // in the SAME cluster sits above the cosine threshold; the keeper
    // is the smallest such id (deterministic keep-first, the
    // q_dedup_keep convention). τ = 0.35 is corpus-tuned the way the
    // paper tunes ε per corpus (the synthetic embeddings are
    // near-orthogonal: max pairwise cosine ≈ 0.51). Exactness: the
    // assignment is the cross-multiplied decimal(38,0)/HUGEINT
    // comparator, the cosine is the repo-wide quantized-int64 dot +
    // one engine-identical sqrt/division, so both engines see
    // bit-identical doubles at the threshold. Scale shape — the whole
    // point of SemDeDup vs all-pairs (q_dedup_embedding is the O(n²)
    // baseline): the quadratic term is CLUSTER-local, and cluster SIZE
    // is capped. The paper keeps it capped by growing k ∝ corpus (50k
    // clusters on 1.3e9 embeddings ≈ 25k/cluster); with k pinned to the
    // 10 label centroids here, the cap is realized as a deterministic
    // secondary shard (vec_id DIV 2000) on the pair key — the same
    // bounded-membership guarantee, exactly replicable by the oracle.
    // Pairs therefore scale ~10·n, not n² (measured: 12k at sf0.01
    // where one shard covers the corpus, so the shard is a no-op there).
    // Centroids broadcast (k×(dim+1) ints); assignment is one narrow
    // corpus pass; the only wide ops are the (cluster, shard)-keyed
    // equi-join — never a cross join — and the final vec_id-keyed
    // count/min aggregate.
    entry("q_semdedup",
      """WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1048576.0) AS BIGINT) for x in embedding] q FROM embeddings),
        | lab AS (SELECT vec_id, label FROM embeddings),
        | c0 AS (SELECT label cl, i, SUM(q[i]) si, COUNT(*) cn
        |        FROM e JOIN lab USING (vec_id) CROSS JOIN generate_series(1,64) g(i) GROUP BY 1,2),
        | dt AS (SELECT e.vec_id, c0.cl, c0.cn, SUM((c0.cn*e.q[c0.i] - c0.si)*(c0.cn*e.q[c0.i] - c0.si)) d2
        |        FROM e CROSS JOIN c0 GROUP BY 1,2,3),
        | a1 AS (SELECT a.vec_id, a.cl FROM dt a
        |        WHERE NOT EXISTS (SELECT 1 FROM dt b WHERE b.vec_id = a.vec_id AND b.cl <> a.cl
        |          AND (CAST(b.d2 AS HUGEINT)*a.cn*a.cn < CAST(a.d2 AS HUGEINT)*b.cn*b.cn
        |            OR (CAST(b.d2 AS HUGEINT)*a.cn*a.cn = CAST(a.d2 AS HUGEINT)*b.cn*b.cn AND b.cl < a.cl)))),
        | a2 AS (SELECT vec_id, cl, vec_id // 2000 sh FROM a1),
        | terms AS (SELECT vec_id, x*x t FROM (SELECT vec_id, unnest(q) x FROM e)),
        | n AS (SELECT vec_id, sqrt(CAST(SUM(t) AS DOUBLE)) nrm FROM terms GROUP BY 1),
        | p0 AS (SELECT x.vec_id kid, y.vec_id vid, ea.q aq, eb.q bq
        |        FROM a2 x JOIN a2 y ON x.cl = y.cl AND x.sh = y.sh AND x.vec_id < y.vec_id
        |        JOIN e ea ON ea.vec_id = x.vec_id JOIN e eb ON eb.vec_id = y.vec_id),
        | pt AS (SELECT kid, vid, aq[i]*bq[i] t FROM p0 CROSS JOIN generate_series(1,64) g(i)),
        | p AS (SELECT kid, vid, CAST(SUM(t) AS DOUBLE) dot FROM pt GROUP BY 1,2),
        | sim AS (SELECT p.kid, p.vid FROM p JOIN n na ON na.vec_id = p.kid JOIN n nb ON nb.vec_id = p.vid
        |         WHERE dot/NULLIF(na.nrm*nb.nrm, 0) >= 0.35),
        | m AS (SELECT vid, MIN(kid) keeper_id, COUNT(*) n_near FROM sim GROUP BY 1)
        |SELECT a1.vec_id, a1.cl AS cluster, m.keeper_id,
        |  COALESCE(m.n_near, 0) AS n_near, m.vid IS NOT NULL AS is_dup
        |FROM a1 LEFT JOIN m ON m.vid = a1.vec_id
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      import graft.functions.KMeans
      // persist: centroid sums and the assignment pass both read the
      // quantized frame (the q_kmeans_step convention)
      val emb = Tables(s, dir, "embeddings")
        .transform(Tables.spread(_, col("vec_id")))
        .select(col("vec_id"), col("label"), quantize("embedding").as("q"))
        .persist()
      val asg = KMeans.assign(emb, KMeans.labelSums(emb))
        .select(col("vec_id").as("a_vec_id"), col("cl"))
      // checkpoint the assigned frame: both pair sides AND the final
      // left join read it, and it embeds the per-row exact argmin — the
      // most expensive narrow stage here; without the checkpoint the
      // assignment transform runs three times (registry-released)
      val side = graft.functions.Checkpoints.lazyLocal(
        emb.join(asg, col("vec_id") === col("a_vec_id"))
          .select(col("vec_id"), col("cl"), expr("vec_id DIV 2000").as("sh"),
            col("q"), qnorm("q").as("nrm")))
      // r18 (guide §8, VERDICT task 3 — the attributed fix): the former
      // (cl, sh)-keyed SELF-JOIN emitted one ~1 KB row per pair (both
      // 64-element vectors) only to take one int64 dot and drop it —
      // ~200 GB of joined-row materialization at sf100, the measured
      // exp-1.25 constant. Every pair decision is group-local and the
      // shard caps groups at 2000 members, so each vector now moves ONCE
      // into its (cl, sh) group and ONE native expression
      // ([[graft.plans.SemDedupOps.pairSummaries]]) loops the pairs in primitive
      // arrays, emitting only the per-vid (keeper, count) survivors —
      // bit-identical cosine predicate, same keep-first semantics
      // (SemDedupPairsSpec pins native == join shape on real data).
      val m = side.groupBy(col("cl"), col("sh"))
        .agg(collect_list(struct(col("vec_id"), col("q"), col("nrm"))).as("members"))
        .select(explode(graft.plans.SemDedupExpressions.pairSummaries(
          col("members"), 0.35)).as("r"))
        .select(col("r.vid").as("vid"), col("r.keeper_id").as("keeper_id"),
          col("r.n_near").as("n_near"))
      side.join(m, col("vec_id") === col("vid"), "left")
        .select(col("vec_id"), col("cl").as("cluster"), col("keeper_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          col("keeper_id").isNotNull.as("is_dup"))
        .orderBy(col("vec_id"))
    }
  )
}
