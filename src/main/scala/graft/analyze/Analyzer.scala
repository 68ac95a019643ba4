package graft.analyze

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reader/analyzer face (reference E2, `app/parquet_to_polars.py`):
  * typed views, value-column extraction, schema-drift reporting, and
  * describe-style statistics.
  *
  * All of it is metadata work plus single-stage aggregations — nothing here
  * shuffles more than one row per column per partition at any scale.
  */
object Analyzer {

  /** P2: select `value.`-prefixed columns, strip the prefix, keep metadata
    * columns as-is (`R:304-325`). The Polars horizontal concat is
    * unnecessary — one `select` expresses the splice. */
  def extractValueColumns(df: DataFrame, prefix: String = "value."): DataFrame = {
    val meta = df.columns.filterNot(_.startsWith(prefix))
    val vals = df.columns.filter(_.startsWith(prefix))
    df.select(meta.map(col) ++
      vals.map(c => col(s"`$c`").as(c.stripPrefix(prefix))): _*)
  }

  /** Typed view: select the entity's fields (missing → null literal),
    * permissive cast, `as[T]` — the Dataset twin of `to_dataclass`
    * (`R:350-375`, which silently drops unknown fields). */
  def typedView[T <: Product: TypeTag](df: DataFrame): Dataset[T] = {
    val enc = Encoders.product[T]
    val want = enc.schema
    val have = df.columns.toSet
    val cols = want.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*).as[T](enc)
  }

  /** Schema-drift report vs an expected schema (`R:445-489`): missing
    * fields, extra fields, and type mismatches. */
  case class Drift(missing: Seq[String], extra: Seq[String], mismatched: Seq[String]) {
    def ok: Boolean = missing.isEmpty && extra.isEmpty && mismatched.isEmpty
  }

  def schemaDrift(actual: StructType, expected: StructType): Drift = {
    val a = actual.fields.map(f => f.name -> f.dataType).toMap
    val e = expected.fields.map(f => f.name -> f.dataType).toMap
    Drift(
      missing = expected.fieldNames.filterNot(a.contains).toSeq.sorted,
      extra = actual.fieldNames.filterNot(e.contains).toSeq.sorted,
      mismatched = e.keys.toSeq.sorted.collect {
        case n if a.contains(n) && a(n) != e(n) => s"$n: ${a(n).simpleString} != ${e(n).simpleString}"
      })
  }

  /** Column profile: one row per requested column with row/non-null/
    * distinct counts and min/max rendered as strings — the data-profiling
    * table a lake catalog shows per dataset. ONE aggregation pass over
    * ONE scan for all k columns (at 100 TB, k scans would profile the
    * corpus k times): every per-column aggregate lands in a single wide
    * one-row frame, then an in-plan explode-of-structs unpivots it to
    * k rows — no collect, no union of k subplans. The k countDistincts
    * plan as one Expand-based aggregate (rows × (k+1) inside the scan
    * stage, still a single pass — Spark's standard multi-distinct shape).
    * Callers should pre-cast doubles to DECIMAL if the profile crosses
    * engines: double→string formatting is engine-specific,
    * decimal→string is not. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // positional names (dots in user column names would read as struct
    // access if spliced into the agg aliases)
    val aggs = count(lit(1)).as("_n") +: cols.zipWithIndex.flatMap { case (c, i) => Seq(
      count(col(c)).as(s"_nn_$i"),
      countDistinct(col(c)).as(s"_nd_$i"),
      min(col(c)).cast("string").as(s"_min_$i"),
      max(col(c)).cast("string").as(s"_max_$i"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val unpivoted = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col"), col("_n").as("n"),
        col(s"_nn_$i").as("n_nonnull"), col(s"_nd_$i").as("n_distinct"),
        col(s"_min_$i").as("min_v"), col(s"_max_$i").as("max_v"))
    }
    wide.select(explode(array(unpivoted: _*)).as("p")).select("p.*")
  }

  /** A8: per-numeric-column min/max/mean/std + per-column null counts in a
    * single aggregation pass (`R:377-443`). One row out per input column. */
  def describeStats(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.filter(f =>
      f.dataType.typeName match {
        case "long" | "integer" | "double" | "float" | "short" => true
        case _ => false
      }).map(_.name)
    val aggs = df.columns.flatMap { c =>
      val base = Seq(count(when(col(c).isNull, 1)).as(s"${c}__nulls"))
      if (numeric.contains(c))
        base ++ Seq(min(col(c)).cast("double").as(s"${c}__min"),
          max(col(c)).cast("double").as(s"${c}__max"),
          avg(col(c)).as(s"${c}__mean"),
          stddev(col(c)).as(s"${c}__std"))
      else base
    }
    val wide = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    // unpivot to one row per column
    val row = wide.collect().head
    val out = df.columns.map { c =>
      def g(suffix: String): Option[Double] = {
        val i = wide.columns.indexOf(s"$c$suffix")
        if (i < 0 || row.isNullAt(i)) None else Some(row.getAs[Number](i).doubleValue())
      }
      (c, row.getAs[Number](wide.columns.indexOf(s"${c}__nulls")).longValue(),
        g("__min"), g("__max"), g("__mean"), g("__std"))
    }
    df.sparkSession.createDataFrame(out.toIndexedSeq)
      .toDF("column", "n_nulls", "min", "max", "mean", "std")
  }
}
