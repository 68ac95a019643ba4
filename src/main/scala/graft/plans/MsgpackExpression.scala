package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Msgpack

/** Native Catalyst expression for msgpack→JSON decode — the codegen upgrade
  * over the plain UDF in [[graft.functions.Msgpack]] (preference order per
  * the build brief: built-in > native Expression > UDF).
  *
  * Unlike a Scala UDF this participates in whole-stage codegen: the
  * generated code calls the static decoder directly with no
  * encoder/serializer round-trip per row, and stays inside the fused
  * pipeline stage — on a 100 TB decode pass that removes one
  * InternalRow↔Row conversion per record.
  *
  * Mirrors the reference's `decode_message` msgpack branch
  * (`app/redpanda_to_parquet_collector.py:223-256`); malformed input yields
  * null (caller degrades to raw_value, `:240-241`).
  */
case class MsgpackToJsonExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "msgpack_to_json"

  // analysis-time rejection beats a runtime ClassCastException (the other
  // SQL-registered nodes — QuantizedDot, MinHashSlots, SimHash64, ZOrder2
  // — do the same; this is on the public SQL surface via GraftExtensions)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"msgpack_to_json expects BINARY input, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any = {
    val s = Msgpack.toJson(input.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val s = ctx.freshName("decoded")
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        UTF8String ${ev.value} = null;
        if (!${c.isNull}) {
          String $s = graft.functions.Msgpack.toJson(${c.value});
          if ($s != null) {
            ${ev.isNull} = false;
            ${ev.value} = UTF8String.fromString($s);
          }
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): MsgpackToJsonExpr =
    copy(child = newChild)
}

/** Session-extension registration: `spark.sql("SELECT msgpack_to_json(b)")`
  * works in any session built `.withExtensions(new GraftExtensions)` (or via
  * `spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  // every builder arity-checks: a bad SQL call should say "wrong argument
  // count", not throw a raw IndexOutOfBoundsException from cs(1)
  private def arity(name: String, n: Int, cs: Seq[Expression]): Unit =
    if (cs.length != n)
      throw new IllegalArgumentException(
        s"$name takes $n argument${if (n == 1) "" else "s"}, got ${cs.length}")

  private val functions = Seq(
    fn("msgpack_to_json", classOf[MsgpackToJsonExpr], { cs =>
      arity("msgpack_to_json(binary)", 1, cs); MsgpackToJsonExpr(cs.head)
    }),
    fn("graft_qdot", classOf[QuantizedDot], { cs =>
      arity("graft_qdot(a, b)", 2, cs); QuantizedDot(cs(0), cs(1))
    }),
    fn("graft_minhash", classOf[MinHashSlots], { cs =>
      arity("graft_minhash(bases, k)", 2, cs)
      if (!cs(1).foldable)
        throw new IllegalArgumentException("graft_minhash: k must be a literal")
      val k = cs(1).eval() match {
        case i: Int  => i
        case l: Long if l.isValidInt => l.toInt
        case l: Long =>
          throw new IllegalArgumentException(s"graft_minhash: k $l is outside the int range")
        case other =>
          throw new IllegalArgumentException(s"graft_minhash: integer k expected, got $other")
      }
      MinHashSlots(cs(0), k)
    }),
    fn("graft_simhash64", classOf[SimHash64], { cs =>
      arity("graft_simhash64(hashes, n)", 2, cs); SimHash64(cs(0), cs(1))
    }),
    fn("graft_zorder2", classOf[ZOrder2], { cs =>
      arity("graft_zorder2(a, b)", 2, cs); ZOrder2(cs(0), cs(1))
    }))

  /** Register into an already-built session (extensions are otherwise
    * builder-time only). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
