package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * When one join key dominates (a hot user, a null-heavy dimension), the
  * hash shuffle sends that key's entire volume to ONE reducer and the stage
  * runs at straggler speed. Salting splits each left-side key into
  * `saltBuckets` deterministic sub-keys and replicates the right side once
  * per bucket, so the hot key spreads over `saltBuckets` reducers.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) solves the same problem adaptively for sort-merge joins; this
  * explicit variant covers the cases AQE can't see (e.g. aggregation-side
  * skew, or when the skewed stage is not a join) and documents the
  * mechanics. Results are provably identical to the unsalted join.
  */
object SkewJoin {

  /** Deterministic salt in [0, saltBuckets) derived from non-key columns —
    * here from a monotonically-increasing surrogate so replicated rows of
    * the same key spread evenly. */
  /** The internal salt column name; colliding with a user column would
    * silently overwrite and then drop it (the hazard Ranking.internalCols
    * documents), so both entry points refuse loudly instead. */
  private val SaltCol = "_salt"
  private def requireNoSalt(dfs: DataFrame*): Unit =
    dfs.foreach(df => require(!df.columns.contains(SaltCol),
      s"input already has a '$SaltCol' column; rename it before salting"))

  def saltedEquiJoin(left: DataFrame, right: DataFrame, key: String,
                     saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0)
    requireNoSalt(left, right)
    // left: assign each row a pseudo-random but DETERMINISTIC bucket from a
    // full-row hash (xxhash64 over all columns) — no rand(), so retries and
    // speculative tasks agree.
    val leftSalted = left.withColumn("_salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(saltBuckets)))
    // right: replicate once per bucket (long-typed sequence so the join
    // key matches pmod's long without casting around the generator)
    val rightSalted = right.withColumn("_salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    leftSalted.join(rightSalted, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-phase (partial → final) aggregation split for skewed group keys:
    * pre-aggregate on (key, salt), then merge per key. `aggs` must be
    * decomposable (sum/count/min/max). */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     saltBuckets: Int): DataFrame = {
    requireNoSalt(df)
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(saltBuckets)))
    salted.groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_s"), count(lit(1)).as("_n"))
      .groupBy(col(key))
      .agg(sum(col("_s")).as(s"sum_$valueCol"), sum(col("_n")).as("n"))
  }
}
