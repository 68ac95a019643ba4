package org.apache.spark.sql.catalyst.json

import java.io.CharConversionException
import java.nio.charset.{MalformedInputException, StandardCharsets}

import com.fasterxml.jackson.core.JsonProcessingException

import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Spark's own JSON decode and inference steps, reached without a Spark
  * job or a `from_json` column: the session conf they read is
  * `private[sql]` and the inference steps are `private[json]`, so these
  * live in this package, like `sql.classic.GraftExpressionBridge`. No
  * Spark internals are modified. */
object GraftJsonBridge {

  /** The evaluator that `from_json(text, schema, options)` runs per row
    * in `session`, built from what its `JsonToStructs` node holds after
    * analysis (the nullable schema, the session's corrupt-record name,
    * time zone and variant duplicate-key setting), so a caller that
    * evaluates it on a row gets exactly `from_json`'s answer. */
  def fromJsonEvaluator(session: org.apache.spark.sql.SparkSession, schema: StructType,
      options: Map[String, String]): JsonToStructsEvaluator = {
    val conf = session.asInstanceOf[SparkSession].sessionState.conf
    JsonToStructsEvaluator(options, schema.asNullable, conf.columnNameOfCorruptRecord,
      Some(conf.sessionLocalTimeZone), conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))
  }

  /** `s` with every field, at every depth, nullable. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** The schema `spark.read.json(texts)` infers, computed on the driver:
    * the same options (session time zone and corrupt-record name, no
    * reader options), the same byte parser per text, PERMISSIVE's
    * corrupt-record type for a text that fails to parse, the same root
    * merge and the same final canonicalization. Spark folds the per-text
    * types per partition and then across partitions in task-completion
    * order, so its answer cannot depend on the grouping, and one
    * left-to-right fold gives it. */
  def inferJsonSchema(session: org.apache.spark.sql.SparkSession, texts: Seq[String]): StructType = {
    val conf = session.asInstanceOf[SparkSession].sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
        conf.columnNameOfCorruptRecord)
      val inference = new JsonInferSchema(options)
      val factory = options.buildJsonFactory()
      val corrupt: DataType =
        StructType(Array(StructField(options.columnNameOfCorruptRecord, StringType)))
      val merge = JsonInferSchema.compatibleRootType(
        options.columnNameOfCorruptRecord, options.parseMode)
      val root = texts.iterator.filter(_ != null).map { t =>
        try {
          val parser = factory.createParser(t.getBytes(StandardCharsets.UTF_8))
          try { parser.nextToken(); inference.inferField(parser) } finally parser.close()
        } catch {
          case _: RuntimeException | _: JsonProcessingException |
               _: MalformedInputException | _: CharConversionException => corrupt
        }
      }.foldLeft(StructType(Nil): DataType)(merge)
      inference.canonicalizeType(root, options).collect { case s: StructType => s }
        .getOrElse(StructType(Nil))
    }
  }
}
