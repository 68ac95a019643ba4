package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.{GraftExpressionBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType,
  ObjectType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/dedup hot paths.
  *
  * Why these exist (measured, not speculative): a 64-dim dot product
  * written as an unrolled `a[0]*b[0] + … + a[63]*b[63]` Column chain is
  * ~250 expression nodes. Inside a whole-stage-codegen'd Project that is
  * fine, but the similarity thresholds above pair joins get pushed into
  * the JOIN CONDITION (BroadcastNestedLoopJoin), where conditions are
  * evaluated with interpreted `Expression.eval` — recursive descent plus a
  * boxed java.lang.Long per node, ~5µs per pair. At 1M candidate pairs
  * that alone was ~8s of the round-2 bench. Each column built here is ONE
  * node whose eval is a primitive loop (~100ns) in a [[VectorOps]]
  * kernel, so both interpreted and codegen'd contexts get the native
  * loop. Most constructors in [[VectorExpressions]] reach their kernel
  * through Spark's `StaticInvoke` ([[StaticKernel]]). The hand-written
  * nodes in this file are the ones `StaticInvoke` cannot stand in for:
  * the SQL-registered names (`graft_qdot`, `graft_minhash`,
  * `graft_simhash64`, `graft_zorder2`) keep their own arity and type
  * error messages, and [[QuantizeVector]] picks its kernel flag from the
  * child's element type instead of casting every row to array<double>.
  *
  * All arithmetic is exact int64 on pre-quantized values (see
  * [[graft.functions.VectorFunctions]] for the exactness contract with the
  * DuckDB oracle). Array elements must be non-null (they come from
  * `transform` over non-null numeric columns).
  */
object VectorOps {

  /** Exact int64 dot product of two equal-length bigint arrays. Length
    * mismatch or a null element raises a clear error rather than reading
    * out of bounds — `graft_qdot` is on the public SQL surface
    * (UnsafeArrayData.getLong has no bounds check and reads 0/garbage at
    * null slots, so an unchecked loop would return wrong sums silently). */
  def qdot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_qdot: vector lengths differ (${n} vs ${b.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"graft_qdot: null element at index $i")
      s += a.getLong(i) * b.getLong(i); i += 1
    }
    s
  }

  /** Exact int64 squared Euclidean distance Σ(a_i − b_i)² of two
    * equal-length bigint arrays — same contract and bounds discipline as
    * [[qdot]] (r18: replaces the interpreted `aggregate(zip_with(…))`
    * lambda in the PQ encode/rerank hot path — higher-order functions are
    * CodegenFallback, ~µs/row; this is one native loop in both contexts). */
  def qdist2(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_qdist2: vector lengths differ (${n} vs ${b.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"graft_qdist2: null element at index $i")
      val d = a.getLong(i) - b.getLong(i)
      s += d * d; i += 1
    }
    s
  }

  /** Exact deterministic quantization of one float/double vector:
    * element i → `floor(x_i · scale)` as int64 — the identical
    * arithmetic of the `transform(c, x -> CAST(floor(CAST(x AS DOUBLE) *
    * scale) AS BIGINT))` fragment it replaces (r18: `transform` is an
    * interpreted higher-order lambda, ~64 boxed evals per embedding row
    * on EVERY vector query's first pass; this is one native loop in
    * both codegen and interpreted contexts). Null elements stay null
    * (CAST(NULL) semantics); a NaN or out-of-int64-range product throws
    * exactly where the ANSI cast would. */
  def quantize(v: ArrayData, scale: Double, fromDouble: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (fromDouble) v.getDouble(i) else v.getFloat(i).toDouble
        val d = Math.floor(x * scale)
        if (d.isNaN || d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
          throw new ArithmeticException(
            s"graft_quantize: $x * $scale out of bigint range (ANSI cast contract)")
        out(i) = d.toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All `k` MinHash slots in one pass over the per-shingle base hashes.
    * Slot i (1-based) applies the affine family
    * `h_i(b) = ((2i+1)·b + 1000003·i) mod 2147483647` and keeps the min —
    * the classic one-strong-hash + k-affine-transforms construction
    * (base = first 8 hex digits of md5, so b < 2^32 and every product
    * stays well inside int64). The DuckDB oracle replays the identical
    * formula. */
  def minhash(bases: ArrayData, k: Int): ArrayData = {
    val n = bases.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (bases.isNullAt(j))
        throw new IllegalArgumentException(s"graft_minhash: null base hash at index $j")
      val b = bases.getLong(j)
      // the affine family's int64 headroom assumes 32-bit bases (the md5
      // prefix contract); a larger b would overflow (2i+1)·b and return
      // negative garbage SILENTLY — reject it loudly on the SQL surface
      if (b < 0L || b > 0xffffffffL)
        throw new IllegalArgumentException(
          s"graft_minhash: base hash $b outside the 32-bit contract [0, 2^32)")
      var i = 1
      while (i <= k) {
        val h = ((2L * i + 1L) * b + 1000003L * i) % 2147483647L
        if (h < mins(i - 1)) mins(i - 1) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** SimHash fingerprint as a 64-char '0'/'1' string from per-token md5
    * hex strings. Bit b is set when at least half of the `n` token hashes
    * have bit b set, where bit b lives in hex nibble b/4 (0-based from the
    * left) at weight 2^(b%4) — the identical extraction the DuckDB oracle
    * states with strpos/substr arithmetic. */
  def simhash64(hashes: ArrayData, n: Long): UTF8String = {
    val counts = new Array[Int](64)
    val m = hashes.numElements()
    var j = 0
    while (j < m) {
      if (hashes.isNullAt(j))
        throw new IllegalArgumentException(s"graft_simhash64: null hash at index $j")
      val hex = hashes.getUTF8String(j).toString
      if (hex.length < 16)
        throw new IllegalArgumentException(
          s"graft_simhash64: hash '$hex' shorter than 16 hex chars")
      var b = 0
      while (b < 64) {
        val nibble = Character.digit(hex.charAt(b >> 2), 16)
        // Character.digit returns -1 for a non-hex char, whose bit
        // pattern would count EVERY bit of the nibble as set — a
        // plausible-looking but corrupt fingerprint; reject instead
        if (nibble < 0)
          throw new IllegalArgumentException(
            s"graft_simhash64: non-hex char '${hex.charAt(b >> 2)}' in hash '$hex'")
        if (((nibble >> (b & 3)) & 1) == 1) counts(b) += 1
        b += 1
      }
      j += 1
    }
    val out = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      out(b) = if (2L * counts(b) >= n) '1' else '0'
      b += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Count of positions where two bigint arrays agree: indices
    * i < min(len a, len b) with both elements non-null and equal —
    * exactly `size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))`
    * (zip_with pads the shorter array with nulls, `null = x` is null,
    * and filter keeps only true), in one native loop instead of ~3·k
    * boxed lambda evals per candidate pair (higher-order functions are
    * CodegenFallback — r19, the minhash agreement-count hot path). */
  def agree(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Exact int64 SQ8 residual square-sum Σ(127·q_i − code_i·s)² — the
    * q_int8_quantize audit aggregate as one native loop instead of a
    * per-row interpreted `aggregate(zip_with(q, code, …))` chain (r19).
    * Same bounds discipline as [[qdot]]. */
  def sse127(q: ArrayData, code: ArrayData, s: Long): Long = {
    val n = q.numElements()
    if (code.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_sse127: vector lengths differ ($n vs ${code.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || code.isNullAt(i))
        throw new IllegalArgumentException(s"graft_sse127: null element at index $i")
      val e = 127L * q.getLong(i) - code.getLong(i) * s
      acc += e * e; i += 1
    }
    acc
  }

  /** Elementwise difference of two equal-length bigint arrays — the
    * `zip_with(a, b, (x, y) -> x - y)` residual build (r19). Same
    * contract and bounds discipline as [[qdot]]. */
  def qsub(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_qsub: vector lengths differ ($n vs ${b.numElements()})")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"graft_qsub: null element at index $i")
      out(i) = a.getLong(i) - b.getLong(i); i += 1
    }
    new GenericArrayData(out)
  }

  /** max(|x_i|) over a bigint array — `array_max(transform(q, x ->
    * abs(x)))` as one native loop (r19). Null elements are skipped like
    * array_max does; empty/all-null yields NULL (boxed return). */
  def maxAbs(v: ArrayData): java.lang.Long = {
    val n = v.numElements()
    var best = -1L
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = Math.abs(v.getLong(i))
        if (a > best) best = a
      }
      i += 1
    }
    if (best < 0) null else java.lang.Long.valueOf(best)
  }

  /** SQ8 code array: element i → `(2·127·(x_i + s) + s) div (2·s) − 127`
    * — the `transform(q, x -> …)` code lambda as one native loop (r19).
    * All operands are non-negative at the call site (s = max|x| > 0), so
    * Java truncating division ≡ SQL DIV exactly; s = 0 raises loudly
    * like ANSI DIVIDE_BY_ZERO; null elements stay null (transform
    * semantics). */
  def sq8code(v: ArrayData, s: Long): ArrayData = {
    if (s == 0L) throw new ArithmeticException("graft_sq8code: division by zero (s = 0)")
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = v.getLong(i)
        out(i) = java.lang.Long.valueOf((2L * 127L * (x + s) + s) / (2L * s) - 127L)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of elements with |x_i| = target — `size(filter(code, c ->
    * abs(c) = target))` as one native loop (r19). Null elements never
    * count (abs(null) filters out). */
  def countAbsEq(v: ArrayData, target: Long): Int = {
    val n = v.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && Math.abs(v.getLong(i)) == target) c += 1
      i += 1
    }
    c
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The DISTINCT 60-bit gram hashes of a token array's word n-grams in
    * one native pass — the q_decontaminate corpus hot path (r19). Hash
    * values are bit-identical to the fragment it replaces:
    *
    * {{{
    *   sh = array_distinct(transform(sequence(1, greatest(size(toks)-n+1, 1)),
    *          i -> array_join(slice(toks, i, n), ' ')))
    *   gh = transform(sh, x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))
    * }}}
    *
    * i.e. the first 15 hex digits of md5 over the space-joined gram
    * (array_join skips null tokens; the window count is clamped at 1 so a
    * short array yields its whole-array gram). The output is SORTED
    * UNIQUE rather than first-occurrence-ordered: every consumer explodes
    * it into countDistinct-style aggregates, where the multiset identity
    * of VALUES is what matters — and a (cosmically unlikely) md5-60
    * collision between two distinct grams merges to one element here
    * exactly as it merges inside the downstream COUNT(DISTINCT g), so
    * results cannot diverge. What the native loop removes per document:
    * two interpreted `transform` lambdas (CodegenFallback), one gram
    * String + one 32-char hex String allocation per window, the conv()
    * hex re-parse, and `array_distinct`'s string hashing — md5 itself
    * (the semantics) stays. */
  def gramHash64(toks: ArrayData, n: Int): ArrayData = {
    val size = toks.numElements()
    val windows = math.max(size - n + 1, 1)
    val md = md5Local.get()
    val hs = new Array[Long](windows)
    val space = Array[Byte](' ')
    var i = 0
    while (i < windows) {
      md.reset()
      val end = math.min(i + n, size)
      var j = i
      var first = true
      while (j < end) {
        if (!toks.isNullAt(j)) {
          if (!first) md.update(space)
          md.update(toks.getUTF8String(j).getBytes)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      hs(i) = (v << 4) | ((d(7) & 0xffL) >>> 4)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var out = 0
    var p = 0
    while (p < windows) {
      if (p == 0 || hs(p) != hs(p - 1)) { hs(out) = hs(p); out += 1 }
      p += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, out))
  }

  /** All ordered index pairs (i < j) of a bigint array as
    * array<struct<pa, pb>> — the basket pair expansion
    * `flatten(transform(parts, (x, i) -> transform(slice(parts, i + 2,
    * size(parts)), y -> struct(x, y))))` as one native double loop (r19:
    * the nested transforms are interpreted CodegenFallback lambdas that
    * also materialize a sliced array per element — per-basket cost on
    * every graph query's corpus pass). Identical pair sequence. Null
    * elements are rejected loudly (sorted collect_set output never
    * contains them). */
  def sortedPairs(parts: ArrayData): ArrayData = {
    val n = parts.numElements()
    val vs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (parts.isNullAt(i))
        throw new IllegalArgumentException(s"graft_sortedpairs: null element at index $i")
      vs(i) = parts.getLong(i)
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(vs(i), vs(j))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles joined with spaces, first-occurrence
    * order — `array_distinct(transform(sequence(1, greatest(size - n + 1,
    * 1)), i -> array_join(slice(toks, i, n), ' ')))` as one native loop
    * (r19: the transform + per-window slice/array_join chain is
    * interpreted CodegenFallback on every minhash/dedup query's corpus
    * pass). Bit-identical output array: same gram strings (array_join
    * skips null tokens), same clamp (short arrays yield their one
    * whole-array gram), same first-occurrence dedup order. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val size = toks.numElements()
    val windows = math.max(size - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](windows * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < windows) {
      sb.setLength(0)
      val end = math.min(i + n, size)
      var j = i
      var first = true
      while (j < end) {
        if (!toks.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Per-element 32-bit md5-prefix base hashes —
    * `transform(sh, x -> CAST(conv(substring(md5(x), 1, 8), 16, 10) AS
    * BIGINT))` as one native loop (r19): value = the first 4 digest
    * bytes as an unsigned big-endian int, exactly the 8-hex-digit
    * prefix. Null elements are rejected loudly (shingle arrays never
    * contain them). */
  def md5Base32(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    val md = md5Local.get()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (sh.isNullAt(i))
        throw new IllegalArgumentException(s"graft_md5base32: null element at index $i")
      md.reset()
      md.update(sh.getUTF8String(i).getBytes)
      val d = md.digest()
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of tokens present in a literal word set — `size(filter(toks,
    * x -> x IN (…)))` as one native loop over a hash set (r19: the
    * filter lambda re-scans the IN list interpreted per token on every
    * language/quality corpus pass). Null tokens never count (null IN
    * (…) is null → filtered). */
  def markerCount(toks: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && words.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** 32-bit Morton code from the low 16 bits of two keys — see [[ZOrder2]]. */
  def morton2(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

/** `graft_quantize(array<float|double>) -> array<bigint>` — see
  * [[VectorOps.quantize]]. */
case class QuantizeVector(child: Expression, scale: Double) extends UnaryExpression {
  override def prettyName: String = "graft_quantize"
  // transform's lambda output is nullable, so the fragment this replaces
  // produced containsNull = true — keep the schema identical
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  private lazy val fromDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_quantize requires array<float> or array<double>, got $t")
  }

  override protected def nullSafeEval(v: Any): Any =
    VectorOps.quantize(v.asInstanceOf[ArrayData], scale, fromDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.VectorOps.quantize($v, $scale, $fromDouble);")

  override protected def withNewChildInternal(newChild: Expression): QuantizeVector =
    copy(child = newChild)
}

/** `graft_qdot(array<bigint>, array<bigint>) -> bigint` — see [[VectorOps.qdot]]. */
case class QuantizedDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  // analysis-time rejection beats a runtime ClassCastException / silent
  // garbage read — this name is registered on the public SQL surface
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_qdot requires (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.qdot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorOps.qdot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantizedDot =
    copy(left = l, right = r)
}

/** `graft_minhash(array<bigint>) -> array<bigint>` of `k` slots — see
  * [[VectorOps.minhash]]. An EMPTY bases array yields NULL (there is no
  * minimum of nothing; shingle inputs are length-clamped so the engine's
  * own queries never hit this, but the SQL surface can). */
case class MinHashSlots(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  // NullType element covers the bare `array()` literal — evaluates to NULL
  // (empty) or a clear runtime null-element error, never garbage
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType | org.apache.spark.sql.types.NullType, _) if k >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType | org.apache.spark.sql.types.NullType, _) =>
      TypeCheckResult.TypeCheckFailure(s"graft_minhash requires k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<bigint> bases, got $other")
  }

  override protected def nullSafeEval(bases: Any): Any = {
    val arr = bases.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else VectorOps.minhash(arr, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.VectorOps.minhash($c, $k);
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSlots =
    copy(child = newChild)
}

/** `graft_simhash64(array<string>, bigint) -> string` — see
  * [[VectorOps.simhash64]]. */
case class SimHash64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash64 requires (array<string>, bigint), got ($l, $r)")
    }

  override protected def nullSafeEval(hs: Any, n: Any): Any =
    VectorOps.simhash64(hs.asInstanceOf[ArrayData], n.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hs, n) => s"graft.plans.VectorOps.simhash64($hs, (long) $n)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SimHash64 =
    copy(left = l, right = r)
}

/** `graft_zorder2(bigint, bigint) -> bigint` — 32-bit Morton code
  * interleaving the LOW 16 BITS of each key (bit i of `a` lands at 2i, of
  * `b` at 2i+1; higher bits are ignored, which both engines and the
  * oracle replicate). Sorting by this code clusters rows that are close
  * in BOTH dimensions, so per-file min/max stats prune scans filtered on
  * either column — the standard lake Z-ORDER optimization. One native
  * node: a 16-iteration shift loop in both interpreted and codegen'd
  * contexts. */
case class ZOrder2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder2"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType | IntegerType, LongType | IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_zorder2 requires integral keys, got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.morton2(a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VectorOps.morton2((long) $a, (long) $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
}

/** Column-level constructors (classic-session bridge). The hand-written
  * nodes above keep their own SQL-surface type checks; the rest are
  * [[StaticKernel]] calls into [[VectorOps]]. */
object VectorExpressions {
  private val longs = ArrayType(LongType)
  private val strings = ArrayType(StringType)
  private def op(fn: String, dataType: DataType, args: (Column, DataType)*): Column =
    StaticKernel(VectorOps, fn, dataType, args)

  def quantize(v: Column, scale: Double): Column =
    ExpressionUtils.column(QuantizeVector(ExpressionUtils.expression(v), scale))

  def qdot(a: Column, b: Column): Column =
    ExpressionUtils.column(QuantizedDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def qdist2(a: Column, b: Column): Column = op("qdist2", LongType, a -> longs, b -> longs)

  def minhashSlots(bases: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSlots(ExpressionUtils.expression(bases), k))

  def simhash64(hashes: Column, n: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(hashes), ExpressionUtils.expression(n)))

  def zorder2(a: Column, b: Column): Column =
    ExpressionUtils.column(ZOrder2(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** NULL for a NULL array; null elements never count. */
  def agree(a: Column, b: Column): Column = op("agree", IntegerType, a -> longs, b -> longs)

  def sse127(q: Column, code: Column, s: Column): Column =
    op("sse127", LongType, q -> longs, code -> longs, s -> LongType)

  def qsub(a: Column, b: Column): Column =
    op("qsub", ArrayType(LongType, containsNull = false), a -> longs, b -> longs)

  def gramHash64(toks: Column, n: Int): Column = {
    require(n >= 1, s"graft_gramhash64 requires n >= 1, got $n")
    op("gramHash64", ArrayType(LongType, containsNull = false), toks -> strings, lit(n) -> IntegerType)
  }

  /** NULL for an empty or all-null array (the kernel's boxed return). */
  def maxAbs(v: Column): Column =
    StaticKernel(VectorOps, "maxAbs", LongType, Seq(v -> longs), returnNullable = true)

  // the transform lambda it replaces produced containsNull = true
  def sq8code(v: Column, s: Column): Column =
    op("sq8code", ArrayType(LongType, containsNull = true), v -> longs, s -> LongType)

  def countAbsEq(v: Column, target: Long): Column =
    op("countAbsEq", IntegerType, v -> longs, lit(target) -> LongType)

  def sortedPairs(parts: Column): Column =
    op("sortedPairs", ArrayType(StructType(Seq(
      StructField("pa", LongType, nullable = false),
      StructField("pb", LongType, nullable = false))), containsNull = false),
      parts -> longs)

  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, s"graft_shingles requires n >= 1, got $n")
    op("shingles", ArrayType(StringType, containsNull = false), toks -> strings, lit(n) -> IntegerType)
  }

  def md5Base32(sh: Column): Column =
    op("md5Base32", ArrayType(LongType, containsNull = false), sh -> strings)

  /** The word set travels as one `HashSet` literal: value equality keeps
    * equal plans equal, and codegen references it once per task. */
  def markerCount(toks: Column, words: Seq[String]): Column = {
    val set = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => set.add(UTF8String.fromString(w)))
    val wordSet = ExpressionUtils.column(Literal.fromObject(set))
    op("markerCount", IntegerType, toks -> strings, wordSet -> ObjectType(set.getClass))
  }
}
