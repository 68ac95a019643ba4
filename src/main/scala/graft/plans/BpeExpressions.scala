package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.{GraftExpressionBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

object BpeOps {

  /** Apply a BPE merge table to one token array, in step order — the
    * native twin of [[graft.functions.BpeVocab.mergeExpr]] chained once
    * per merge (r19). Each merge is one greedy leftmost non-overlapping
    * scan: at a match emit the merged symbol and consume both tokens,
    * else copy — which is exactly the transform+filter linear branch for
    * l ≠ r AND the array-fold overlap rule for l == r ("a a a" yields
    * [aa, a]); BpeExprSpec pins the equivalence on the real corpus and
    * on adversarial self-pair/overlap shapes. What it removes per
    * document: |merges| interpreted higher-order lambdas (CodegenFallback,
    * one boxed eval per token per merge) and their per-pass null-marker
    * arrays — the encode pass every training run executes corpus-wide.
    *
    * `merges` rows are [left, right, merged-symbol]. Null tokens are
    * rejected loudly (split() never produces them; a null would have been
    * silently DROPPED by the old filter, which is a corruption, not a
    * semantics, so the loud error is the safer twin). */
  def applyMerges(toks: ArrayData, merges: Array[Array[UTF8String]]): ArrayData = {
    var n = toks.numElements()
    var cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i))
        throw new IllegalArgumentException(s"graft_bpe_apply: null token at index $i")
      cur(i) = toks.getUTF8String(i)
      i += 1
    }
    var m = 0
    while (m < merges.length) {
      val l = merges(m)(0); val r = merges(m)(1); val sym = merges(m)(2)
      if (n >= 2) {
        var out = 0
        var j = 0
        while (j < n) {
          if (j + 1 < n && cur(j).equals(l) && cur(j + 1).equals(r)) {
            cur(out) = sym; j += 2
          } else {
            cur(out) = cur(j); j += 1
          }
          out += 1
        }
        n = out
      }
      m += 1
    }
    if (n < cur.length) cur = java.util.Arrays.copyOf(cur, n)
    new GenericArrayData(cur.asInstanceOf[Array[Any]])
  }
}

/** `graft_bpe_apply(array<string>) -> array<string>` with a literal merge
  * table — see [[BpeOps.applyMerges]]. The table is MODEL PARAMETERS
  * (configuration-bounded driver state), carried on the expression node
  * like the k-means candidate descriptors, never a join input.
  *
  * Hand-written rather than a `StaticInvoke`: the kernel takes the table
  * as a raw `Array[Array[UTF8String]]`, which a `Literal` compares by
  * reference, so two equal plans would stop comparing equal. This case
  * class compares the `merges` Seq by value and builds the array once per
  * node; any value-equal literal wrapper would need a kernel change or a
  * per-row unwrap call. */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def prettyName: String = "graft_bpe_apply"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_apply requires array<string> tokens, got $t")
  }

  @transient private lazy val table: Array[Array[UTF8String]] =
    merges.map { case (l, r) =>
      Array(UTF8String.fromString(l), UTF8String.fromString(r),
        UTF8String.fromString(l + " " + r))
    }.toArray

  override protected def nullSafeEval(toks: Any): Any =
    BpeOps.applyMerges(toks.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", table,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.BpeOps.applyMerges($t, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

object BpeExpressions {
  def applyMerges(toks: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeApply(ExpressionUtils.expression(toks), merges))
}
