package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.{GraftExpressionBridge => B}
import org.apache.spark.sql.types.DataType

/** A column that calls `kernel.function(args…)` through Spark's own
  * `StaticInvoke`: codegen emits the direct static call, interpreted eval
  * reflects the same method, a null argument yields NULL, and each
  * argument is checked (and implicitly cast) against its paired type.
  * Types are plain `DataType`s because `AbstractDataType` is `private[sql]`. */
private[plans] object StaticKernel {
  def apply(kernel: AnyRef, function: String, dataType: DataType,
      args: Seq[(Column, DataType)], returnNullable: Boolean = false): Column =
    B.column(StaticInvoke(kernel.getClass, dataType, function,
      args.map(a => B.expression(a._1)), args.map(_._2), returnNullable = returnNullable))
}
