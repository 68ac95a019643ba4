package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership probe over a BROADCAST VARIABLE instead of a
  * plan literal.
  *
  * Why: the inline keeper's id guard ([[graft.streaming.IdBloom]])
  * probes a persisted bloom on every micro-batch. Spark's own
  * `BloomFilterMightContain` takes the serialized filter as a CHILD
  * EXPRESSION, so the guard used to embed the whole filter as a binary
  * `Literal` in the plan: ClusterGate measured 7.2–21.7 MiB task
  * binaries per probe stage (`DAGScheduler: Broadcasting large task
  * binary` — COVERAGE.md round 14, finding 1), re-serialized into every
  * stage that touches the filter, ~30 MB at the 2^24 clamp. A
  * `Broadcast[BloomFilter]` handle serializes in bytes; the filter's
  * payload moves to each executor ONCE via torrent broadcast and is
  * re-read from the local block manager by every later stage and task.
  * The plan (and its explain string — the other pathology the old
  * literal had, multi-MB hex renders) carries only the handle.
  *
  * Semantics are identical to `BloomFilterMightContain` over a long
  * child: null in → null out (callers wrap in `coalesce(_, false)`),
  * `mightContainLong` on the value — the same put/probe hash pair
  * `df.stat.bloomFilter` uses to build the filter.
  *
  * Lifecycle: one broadcast per bloom generation — [[graft.streaming.IdBloom]]
  * caches it across batches and `unpersist`es it once a newer generation
  * replaces it. No explicit destroy: cached micro-batch plans may outlive
  * the probe call that built them.
  */
case class BroadcastBloomMightContain(child: Expression,
    bloom: Broadcast[BloomFilter]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName probes int64 keys (xxhash64/long ids), got ${child.dataType.sql}")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override protected def nullSafeEval(h: Any): Any =
    bloom.value.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomCls = classOf[BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      classOf[Broadcast[BloomFilter]].getName)
    // deserialize/fetch ONCE per generated-class instance (one virtual
    // .value() call per row would still be correct — the broadcast caches
    // — but the filter reference is loop-invariant, so hoist it)
    val filterVar = ctx.addMutableState(bloomCls, "graftBloom",
      v => s"$v = ($bloomCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $filterVar.mightContainLong($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): BroadcastBloomMightContain =
    copy(child = newChild)
}
