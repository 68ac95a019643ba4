package graft.ingest

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Plan-time re-expression of the reference's `flatten_dict`
  * (`app/redpanda_to_parquet_collector.py:259-284`; behavior spec
  * `README.md:328-347`):
  *
  *   - a struct field named `data` is hoisted AT ANY DEPTH: its children
  *     land at the top level WITHOUT a prefix (the reference recurses with
  *     `parent_key=''`, a full prefix reset — `:273-274`);
  *   - every other nested struct is flattened with `_`-joined key prefixes
  *     (`metadata.exchange` → `metadata_exchange`), recursively;
  *   - arrays are serialized to JSON strings; an EMPTY array becomes NULL
  *     (reference `:280`); maps likewise become JSON (dicts with dynamic keys
  *     cannot be column-expanded at plan time);
  *   - on a name collision the LAST writer wins (Python `dict.update`
  *     semantics at `:270`/`:399`) but the column keeps its FIRST position.
  *
  * Because the walk happens over the schema at plan time, the result is a
  * single `select` of column expressions — fully codegen'd, no UDF, no
  * per-row interpretation, and column pruning still reaches the parquet scan.
  */
object Flatten {

  /** Flatten every top-level struct of `df` per the rules above. */
  def flatten(df: DataFrame): DataFrame = {
    val out = mutable.LinkedHashMap.empty[String, Column]
    def put(name: String, c: Column): Unit =
      // last value wins, first position kept (LinkedHashMap.update keeps slot)
      out.update(name, c.as(name))

    def walk(prefix: String, name: String, dt: DataType, path: Column): Unit =
      dt match {
        case st: StructType =>
          val childPrefix =
            if (name == "data") "" // hoist data.* unprefixed — full prefix reset (:273-274)
            else if (prefix.isEmpty) s"${name}_"
            else s"$prefix${name}_"
          st.fields.foreach { f =>
            walk(childPrefix, f.name, f.dataType, path.getField(f.name))
          }
        case _: ArrayType =>
          put(prefix + name, when(size(path) === 0, lit(null).cast(StringType)).otherwise(to_json(path)))
        case _: MapType =>
          put(prefix + name, to_json(path))
        case _ =>
          put(prefix + name, path)
      }

    df.schema.fields.foreach(f => walk("", f.name, f.dataType, col(f.name)))
    df.select(out.values.toSeq: _*)
  }
}
