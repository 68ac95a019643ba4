package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine-deterministic numeric aggregates.
  *
  * The correctness gate hash-compares our parquet output against DuckDB.
  * A plain `SUM(double)` is order-dependent in the last ulps (partial
  * aggregation trees differ between engines), so every additive aggregate
  * here routes through an exact DECIMAL accumulation and only converts to
  * DOUBLE at the very end — the same finite decimal converts to the same
  * IEEE-754 double in both engines. The testdata carries at most 2 decimal
  * digits; DECIMAL(18,3) gives one guard digit so double→decimal rounding
  * can never land on a tie.
  *
  * At scale this costs nothing structural: decimal sums still get map-side
  * partial aggregation and whole-stage codegen; only the per-row add is a
  * little wider than a double add.
  */
object Exact {
  val D: DecimalType = DecimalType(18, 3)

  /** Wide exact-integer accumulator for rank/count MOMENTS (Σi·x, Σr²…):
    * decimal(38,0), the Spark twin of DuckDB's HUGEINT. Per-row products
    * can stay int64 (safe to ~3·10⁹ ranks); the SUM is what crosses 2^63
    * around n ≈ 10⁴·⁵-10⁹ depending on the moment's degree. */
  val Moment: DecimalType = DecimalType(38, 0)

  def dec(c: Column): Column = c.cast(D)

  /** Exact sum, surfaced as double: CAST(SUM(CAST(x AS DECIMAL(18,3))) AS DOUBLE). */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact mean, surfaced as double: exact-sum / COUNT(col) — the
    * NON-NULL count, matching SQL AVG (SUM skips nulls, so dividing by
    * COUNT(*) would understate the mean of a nullable column). On
    * non-null columns this equals the oracle's SUM/COUNT(*) exactly. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Sample stddev rebuilt from exact sums so both engines evaluate the
    * identical double expression: sqrt((Σx² − (Σx)²/n) / (n−1)). The
    * n−1 denominator goes through nullif so a 1-row group yields NULL
    * like SQL stddev_samp — under Spark's default ANSI mode a bare /0
    * (even double /0) throws DIVIDE_BY_ZERO and aborts the query. */
  def dstddev(c: Column): Column = {
    val sx  = dsum(c)
    val sx2 = sum(dec(c) * dec(c)).cast(DoubleType)
    val n   = count(c)
    sqrt((sx2 - sx * sx / n) / nullif(n - lit(1L), lit(0L)))
  }

  /** Windowed exact sum (same trick over a window frame). */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(dec(c)).over(w).cast(DoubleType)
}
