package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StringType}

/** JSON payload decoding with sampled schema inference.
  *
  * Mirrors the reference's one-shot per-topic format detection
  * (`app/redpanda_to_parquet_collector.py:172-220`) rather than per-row
  * try/except: we infer the payload schema once from a bounded sample,
  * then decode the full stream with the codegen'd `from_json`, a narrow
  * map with no shuffle. The sample's ROWS are bounded, not its scan: the
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
    * `spark.read.json` adds a `_corrupt_record` artifact field when the
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
    * The bounded sample is collected once and inferred over as a local
    * Dataset: `spark.read.json(Dataset)` runs its input plan once to infer
    * and AGAIN to build the DataFrame it returns (under AQE that re-runs
    * every shuffle stage of the sample plan), though only `.schema` is
    * used here. */
  def inferSchemaOver(spark: SparkSession, df: DataFrame, column: String): StructType =
    inferSchemaOver(spark, df.select(col(column).cast(StringType)).na.drop
      .as[String](Encoders.STRING).collect().toSeq)

  /** [[inferSchemaOver]] over payload texts already on the driver (nulls
    * skipped), for a caller that decoded its bounded sample locally. */
  def inferSchemaOver(spark: SparkSession, texts: Seq[String]): StructType =
    StructType(spark.read.json(spark.createDataset(texts.filter(_ != null))(Encoders.STRING))
      .schema.fields.filterNot(_.name == "_corrupt_record"))

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
    * with raw_value fallback for rows that fail to parse.
    *
    * Malformed-row detection goes through an explicit corrupt-record
    * field: in PERMISSIVE mode `from_json` returns a NON-NULL struct of
    * nulls for unparseable input (its FailureSafeParser maps the error,
    * it never nulls the struct), so a `col(as).isNull` test can never
    * fire and the degrade-to-raw_value contract (collector `:240-241`)
    * would silently lose the payload. With `columnNameOfCorruptRecord`
    * in the parse schema the raw text lands in that field exactly when
    * parsing failed; we hoist it to `raw_value`, null out the struct,
    * and drop the marker field from the decoded shape. */
  def decode(spark: SparkSession, df: DataFrame, column: String,
             as: String = "data", sampleSize: Int = 1000): DataFrame =
    parseWithDegrade(df, col(column).cast(StringType), as,
      inferSchema(spark, df, column, sampleSize))

  /** The PERMISSIVE/corrupt-record degrade protocol itself — the ONE body
    * behind [[decode]] (JSON-string sources) and
    * `IngestPipeline.decodeEnvelope` (per-codec Kafka envelopes), so the
    * degrade contract cannot drift between them: parse `textCol` into a
    * struct column `as` under `payloadSchema`, hoist parse failures into
    * `raw_value`, and null the struct on those rows — a row is NEVER
    * dropped (collector `:240-241, 256, 400-402`).
    *
    * `nullTextRaw` supplies `raw_value` when `textCol` itself is NULL —
    * the msgpack-garbage branch, where the native decoder returns NULL
    * and the raw bytes surface utf-8-cast. None (the plain-JSON case)
    * leaves those rows with a NULL raw_value AND a null struct, matching
    * `from_json`'s null-in/null-out.
    *
    * An EMPTY payload schema (nothing in the inference sample parsed as
    * JSON — e.g. the first drain of a topic whose payloads are all
    * binary garbage) cannot go through `from_json`: Spark refuses to
    * drop ALL fields of a struct, so the nonempty path would crash the
    * drain instead of degrading. Every row then lands with
    * `raw_value` = its payload text and a NULL (empty) struct. */
  def parseWithDegrade(df: DataFrame, textCol: Column, as: String,
                       payloadSchema: StructType,
                       nullTextRaw: Option[Column] = None): DataFrame = {
    val corrupt = "_graft_corrupt"
    // spark.read.json adds a "_corrupt_record" field when the INFERENCE
    // sample contains malformed rows — strip it, or the decoded struct
    // would carry a duplicate of our marker as a payload field
    val fields = payloadSchema.fields.filterNot(_.name == "_corrupt_record")
    require(!fields.exists(_.name == corrupt),
      s"payload schema collides with the internal corrupt-record field $corrupt")
    def withNullText(parsed: Column): Column = nullTextRaw match {
      case Some(fb) => when(textCol.isNull, fb).otherwise(parsed)
      case None     => parsed
    }
    if (fields.isEmpty)
      df.withColumn("raw_value", withNullText(textCol))
        .withColumn(as, lit(null).cast(StructType(Nil)))
    else {
      val parseSchema = StructType(fields).add(corrupt, StringType)
      df.withColumn(as, from_json(textCol, parseSchema,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)))
        // two failure surfaces: parse errors land in the corrupt field
        // (the struct is NON-null — FailureSafeParser maps the error),
        // but EMPTY/BLANK text returns a NULL struct with NO corrupt
        // record at all — without the second branch a blank payload
        // would silently lose its text instead of degrading
        .withColumn("raw_value", withNullText(
          coalesce(col(s"$as.$corrupt"), when(col(as).isNull, textCol))))
        .withColumn(as,
          when(col("raw_value").isNotNull, lit(null)).otherwise(col(as).dropFields(corrupt)))
    }
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
