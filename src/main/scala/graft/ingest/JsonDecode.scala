package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StringType}

/** JSON payload decoding with sampled schema inference.
  *
  * Mirrors the reference's one-shot per-topic format detection
  * (`app/redpanda_to_parquet_collector.py:172-220`) rather than per-row
  * try/except: we infer the payload schema once from a bounded sample,
  * then decode the full stream with [[PayloadDecoder]], a narrow map with
  * no shuffle that fills each row's payload struct straight from its
  * bytes and hands only the rows it does not mirror to `from_json`. The
  * sample's ROWS are bounded, not its scan: the
  * envelope drain's sample (`CollectorMain.envelopeSample`) keeps
  * O(partitions) rows through a filter parquet cannot push down, so its
  * job reads and decompresses every source row's `value` once before the
  * drain reads them again. Only the props drain's [[inferSchemaSpread]]
  * ends its strided scan early, once its `limit` fills.
  *
  * Undecodable rows degrade to NULL struct + the raw string retained in a
  * `raw_value` column, mirroring `:240-241, 256, 400-402`.
  */
object JsonDecode {

  /** Infer the payload schema from a bounded sample of non-null values.
    * JSON inference adds a `_corrupt_record` artifact field when the
    * sample contains malformed rows — stripped here, or it would leak
    * into decoded lakes and the schema-lineage registry as a phantom
    * payload field. */
  def inferSchema(spark: SparkSession, df: DataFrame, column: String,
                  sampleSize: Int = 1000): StructType =
    inferSchemaOver(spark,
      df.select(col(column)).na.drop.limit(sampleSize), column)

  /** [[inferSchema]] over an ALREADY-BOUNDED sample frame — no internal
    * limit. For callers that compose their own sample from bounded
    * parts: a post-union `limit` fills from the union's FIRST partitions,
    * so the later parts could be starved out of inference entirely and a
    * payload field only they carry would be silently dropped by
    * `from_json`. Bound each sample component BEFORE the union instead
    * (the [[inferSchemaSpread]] shape).
    *
    * The bounded sample is collected once and inferred over on the
    * driver: `spark.read.json` over the sample frame would run its plan
    * once to infer and AGAIN to build the DataFrame it returns (under AQE
    * that re-runs every shuffle stage of the sample plan), though only
    * `.schema` is used here. */
  def inferSchemaOver(spark: SparkSession, df: DataFrame, column: String): StructType =
    inferSchemaOver(spark, df.select(col(column).cast(StringType)).na.drop
      .as[String](Encoders.STRING).collect().toSeq)

  /** [[inferSchemaOver]] over payload texts already on the driver (nulls
    * skipped), for a caller that decoded its bounded sample locally. The
    * texts are inferred on the driver with no Spark job: the schema is
    * `spark.read.json`'s over the same texts (its per-text inference, root
    * merge and canonicalization, `GraftJsonBridge.inferJsonSchema`). */
  def inferSchemaOver(spark: SparkSession, texts: Seq[String]): StructType =
    StructType(org.apache.spark.sql.catalyst.json.GraftJsonBridge.inferJsonSchema(spark, texts)
      .fields.filterNot(_.name == "_corrupt_record"))

  /** [[inferSchema]] with a SPREAD sample: a plain `limit(n)` reads only
    * the first files Spark lists, so on an incrementally-appended source
    * a payload field that first appears in LATER files would be invisible
    * to inference — and `from_json` silently ignores unknown fields, so
    * the field would never land anywhere (not even raw_value). The
    * content-hash stride (~1/101 of rows, deterministic, file-position-
    * independent) sees every file's content with uniform probability; the
    * plain head rides along as the small-source fallback (a tiny source
    * may have no stride hits at all). Cost: the stride is a single
    * column-pruned scan that the `limit` terminates early once the sample
    * fills — and schema inference is once per drain, the reference pays
    * per-batch re-inference (`:1225`). */
  def inferSchemaSpread(spark: SparkSession, df: DataFrame, column: String,
                        sampleSize: Int = 1000): StructType = {
    val strided = df.select(col(column).cast(StringType)).na.drop
      .where(pmod(xxhash64(col(column)), lit(101L)) === 0).limit(sampleSize)
    val head = df.select(col(column).cast(StringType)).na.drop
      .limit(math.max(64, sampleSize / 4))
    inferSchemaOver(spark, strided.unionByName(head), column)
  }

  /** Never-narrowing payload schema for an incremental drain: this run's
    * inferred schema widened with every payload field the lake has
    * already landed (`nonPayload` = the metadata/derived columns the
    * decode itself adds). Without the union, a re-drain whose sample
    * happens to miss an old field would decode new files WITHOUT it —
    * readers then see the column exist-or-not depending on which footer
    * wins schema resolution. Type conflicts resolve to THIS run's
    * inferred type (new data wins, matching the reference's
    * version-on-change posture — the old files keep their own footers
    * and `mergeSchema` reads reconcile). */
  def unionPayloadSchema(inferred: StructType, landed: Option[StructType],
                         nonPayload: Set[String]): StructType = {
    val have = inferred.fieldNames.toSet
    val extra = landed.map(_.fields.filterNot(f => nonPayload(f.name) || have(f.name)))
      .getOrElse(Array.empty[org.apache.spark.sql.types.StructField])
    StructType(inferred.fields ++ extra)
  }

  /** Decode `column` (JSON string) into a struct column named `as`,
    * with raw_value fallback for rows that fail to parse, under the
    * schema inferred from a sample of the column ([[parseWithDegrade]]). */
  def decode(spark: SparkSession, df: DataFrame, column: String,
             as: String = "data", sampleSize: Int = 1000): DataFrame =
    parseWithDegrade(df, col(column).cast(StringType), as,
      inferSchema(spark, df, column, sampleSize))

  /** The PERMISSIVE/corrupt-record degrade protocol itself — the ONE body
    * behind [[decode]] (JSON-string sources), the props drain and
    * `IngestPipeline.decodeEnvelope` (per-codec Kafka envelopes), so the
    * degrade contract cannot drift between them: decode `payload` into a
    * struct column `as` under `payloadSchema`, put the payload text of
    * every row that does not decode into `raw_value`, and null the struct
    * on those rows — a row is NEVER dropped (collector `:240-241, 256,
    * 400-402`).
    *
    * `payload` is a JSON text column or a binary one; `msgpack` (a boolean
    * column, false by default) marks the rows whose bytes are msgpack. One
    * [[PayloadDecoder]] call per row gives both columns. Its answer is the
    * text path's: the row's JSON text (msgpack rendered by
    * `Msgpack.toJson`, JSON as its own UTF-8 text) parsed by `from_json`
    * under `payloadSchema` plus a corrupt-record field. A parse error puts
    * the text in `raw_value` (PERMISSIVE `from_json` maps the error to a
    * NON-null struct of nulls, so a null test on the struct alone would
    * lose the payload); blank text, which `from_json` maps to a NULL
    * struct with no corrupt record, does too; msgpack that does not
    * render puts the raw bytes, read as UTF-8, there. A null payload gives
    * a null struct and a null `raw_value`, `from_json`'s null-in/null-out.
    *
    * An EMPTY payload schema (nothing in the inference sample parsed as
    * JSON — e.g. the first drain of a topic whose payloads are all
    * binary garbage) parses nothing: every row lands with `raw_value` =
    * its payload text and a NULL (empty) struct. */
  def parseWithDegrade(df: DataFrame, payload: Column, as: String,
                       payloadSchema: StructType,
                       msgpack: Column = lit(false)): DataFrame = {
    // JSON inference adds a "_corrupt_record" field when the INFERENCE
    // sample contains malformed rows — strip it, or the decoded struct
    // would carry it as a payload field
    val fields = StructType(payloadSchema.fields.filterNot(_.name == "_corrupt_record"))
    require(!fields.exists(_.name == PayloadDecoder.CorruptField),
      s"payload schema collides with the internal corrupt-record field ${PayloadDecoder.CorruptField}")
    val decoded = "_graft_decoded"
    df.withColumn(decoded, PayloadDecoder.column(df.sparkSession, fields, payload, msgpack))
      .withColumn(as, col(s"$decoded.data"))
      .withColumn("raw_value", col(s"$decoded.raw_value"))
      .drop(decoded)
  }

  /** decode + flatten in one step: the reference's per-record pipeline
    * (decode_message → flatten_dict, `:385-399`), which `q_ingest_e2e`
    * and `q_json_flatten` run. The collector's drain does NOT call it:
    * it expands only the payload's top level (`data.*`), so nested
    * structs land as structs, not as `parent_child` columns. */
  def decodeFlat(spark: SparkSession, df: DataFrame, column: String,
                 sampleSize: Int = 1000): DataFrame =
    Flatten.flatten(decode(spark, df, column, sampleSize = sampleSize).drop(column))
}
