package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines:
  * tokenization, shingling, stopword/quality features, MinHash signatures.
  *
  * Everything here is a plan-time `Column` expression over built-in
  * higher-order functions — fully codegen'd, no UDFs, so the hot path stays
  * inside whole-stage codegen and scales linearly with no shuffle of its own.
  *
  * Cross-engine notes (the DuckDB oracle must reproduce results exactly):
  *  - Spark array indexing `a[i]` is 0-based (DuckDB's is 1-based);
  *  - `sequence(1, n)` DESCENDS when n < 1 (DuckDB's generate_series is
  *    empty) — every sequence length is clamped with `greatest(..., 1)`;
  *  - md5 hex strings compare identically under both engines' binary
  *    collation, which makes min-over-md5 a portable deterministic
  *    hash-family for MinHash.
  */
object TextFunctions {

  /** Whitespace tokens (single-space split, reference-style). */
  def tokens(c: String): Column = expr(s"split($c, ' ')")

  /** Whitespace-run tokens (regex `\s+` split). */
  def wsTokens(c: String): Column = expr(s"split($c, '\\\\s+')")

  /** Regex tokens: letter runs, digit runs, or single punctuation — a
    * BPE-ish pre-tokenizer shape. */
  def regexTokens(c: String): Column =
    expr(s"regexp_extract_all($c, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")

  /** Distinct word n-gram shingles joined with spaces — ONE native pass
    * ([[graft.plans.VectorOps.shingles]]) since r19: the former
    * `array_distinct(transform(sequence(…), i -> array_join(slice(…))))`
    * chain is an interpreted higher-order lambda materializing a sliced
    * array per window, on every minhash/dedup query's corpus pass.
    * Bit-identical output (same grams, same clamp, same first-occurrence
    * dedup order — VectorExprSpec pins it). */
  def shingles(toksCol: String, n: Int): Column =
    graft.plans.VectorExpressions.shingles(col(toksCol), n)

  /** Count of tokens that appear in `words` — ONE native hash-set probe
    * per token ([[graft.plans.VectorOps.markerCount]]) since r19; was
    * `size(filter(toks, x IN (…)))`, an interpreted lambda re-scanning
    * the literal list per token on every language/quality corpus pass
    * (VectorExprSpec pins the equivalence). */
  def markerCount(toksCol: String, words: Seq[String]): Column =
    graft.plans.VectorExpressions.markerCount(col(toksCol), words)

  /** SQL fragment hashing a string expression to a 60-bit int64 (first
    * 15 hex digits of md5 — 16^15 = 2^60 < 2^63). The engine-portable
    * JOIN/GROUP key compression used by decontamination, boilerplate,
    * and substring dedup: 60 bits keep the birthday bound negligible at
    * 10^13-key corpus scale, where the 32-bit MinHash bases (whose width
    * is fixed by the affine mod-2^31-1 slot family) would saturate. The
    * oracle replays it with strpos/pow arithmetic over 15 digits. */
  def md5Prefix64Sql(inner: String): String =
    s"CAST(conv(substring(md5($inner), 1, 15), 16, 10) AS BIGINT)"

  /** Column form of [[md5Prefix64Sql]] over a column name. */
  def md5Prefix64(c: String): Column = expr(md5Prefix64Sql(c))

  /** The matching DuckDB oracle fragment for [[md5Prefix64Sql]]. */
  def md5Prefix64Oracle(inner: String): String =
    s"list_sum([(strpos('0123456789abcdef', substr(md5($inner), j, 1)) - 1) " +
      s"* CAST(pow(16, 15-j) AS BIGINT) for j in generate_series(1,15)])"

  /** Per-shingle 32-bit base hash: the first 8 hex digits of md5 as int64.
    * One strong hash per shingle; the k MinHash functions are derived from
    * it with affine transforms (see [[graft.plans.MinHashSlots]]) — 16×
    * less hashing than the round-2 salted-md5-per-slot family, same
    * engine-portability (the oracle rebuilds the hex→int arithmetic with
    * strpos/pow). The 32-bit width here is a property of the SKETCH hash
    * family (collisions are inside MinHash's error envelope); exact
    * join/group keys use the 60-bit [[md5Prefix64Sql]] instead. */
  def shingleBases(shCol: String): Column =
    graft.plans.VectorExpressions.md5Base32(col(shCol)) // r19: one native
    // loop (digest bytes → unsigned 32-bit int, ≡ the 8-hex-digit conv);
    // was an interpreted transform with an md5-hex + conv re-parse per
    // shingle (VectorExprSpec pins the equivalence)

  /** MinHash signature of length `k` over a shingle-array column: affine
    * family `h_i(b) = ((2i+1)·b + 1000003·i) mod 2147483647` over the
    * per-shingle base hashes, all k mins in one native pass. */
  def minhashSignature(shCol: String, k: Int): Column =
    graft.plans.VectorExpressions.minhashSlots(shingleBases(shCol), k)

  /** LSH band keys from a MinHash signature, r=2 rows per band
    * (0-based Spark indexing: band j covers sig[2j-2], sig[2j-1]). */
  def bandKeys(mhCol: String, bands: Int): Column =
    expr(s"transform(sequence(1, $bands), j -> concat(" +
      s"CAST($mhCol[2*j-2] AS STRING), '|', CAST($mhCol[2*j-1] AS STRING)))")

  /** SimHash fingerprint as a 64-char '0'/'1' string from a column of
    * per-token md5 hex strings (`hsCol`) and the token count (`nCol`).
    * Bit b is set when at least half the token hashes have bit b set,
    * where bit b lives in hex nibble b/4 at weight 2^(b%4) — md5-derived
    * so the DuckDB oracle replays the identical bit extraction. One native
    * pass ([[graft.plans.SimHash64]]) instead of 64 interpreted
    * filter-lambdas per document. */
  def simhashBits(hsCol: String, nCol: String): Column =
    graft.plans.VectorExpressions.simhash64(col(hsCol), col(nCol))
}
