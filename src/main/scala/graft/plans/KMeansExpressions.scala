package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.{GraftExpressionBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Native exact nearest-cluster argmin — the codegen replacement for the
  * interpreted `array_sort(transform(cands, …aggregate(zip_with(…))))`
  * fragment in [[graft.functions.KMeans.nearestSorted]].
  *
  * Why (measured, guide §1/§4): the SQL fragment runs ~5 decimal-free but
  * still *interpreted lambda* steps per (row × candidate × dimension) plus
  * one decimal(38,0) multiply+add per dimension — BigDecimal-backed
  * allocation at ~µs/element. The sf100 48 GiB control proved the fit
  * family's 1016 s q_kmeans_fit wall was exactly this expression
  * (heap-independent, exp 1.64 over the last decade). This node computes
  * the identical exact integer argmin in one primitive loop per row:
  * int64 `cn·q_i − s_i` with Math.*Exact (ANSI-loud on overflow, same as
  * the interpreted CAST chain), an unsigned-128-bit d2 accumulator
  * (replacing decimal(38,0) — overflow checked at the SAME 10^38−1
  * headroom so failure stays loud at the documented contract), and the
  * cross-multiplied rational comparison d2_a·cn_b² vs d2_b·cn_a² in
  * exact 192-bit integer arithmetic (again 10^38-capped for parity).
  * Output is bit-identical: array of struct(cl, cn, d2: decimal(38,0))
  * sorted ascending under the exact rational order, ties by cl —
  * truncated to the top `p` the caller actually consumes (`element_at(…,
  * 1)` / `slice(…, 1, 2)` before; the prefix of a sorted array equals the
  * selection of the top-p, so results are unchanged).
  *
  * The candidate array is a per-query constant (a constant-folded literal
  * in the Lloyd loop, one broadcast row elsewhere) re-presented on every
  * row; a small per-thread memo keyed on the backing buffer identity
  * parses it once per task into flat primitive arrays, so the per-row
  * cost is exactly the k×dim multiply-subtract-square loop.
  */
object KMeansOps {

  // 10^38 − 1 = decimal(38,0) max, as unsigned 128-bit words — both the
  // d2 accumulator and the comparator products throw past it, exactly
  // where the interpreted decimal chain ANSI-overflows.
  private val T38M1: BigInt = BigInt(10).pow(38) - 1
  private val T38M1_HI: Long = (T38M1 >> 64).toLong
  private val T38M1_LO: Long = T38M1.toLong

  /** Parsed candidate descriptors in flat primitive arrays. */
  final class Cands(val k: Int, val dim: Int) {
    val cl = new Array[Long](k)
    val cn = new Array[Long](k)
    val cn2 = new Array[Long](k)
    val s = new Array[Long](k * dim)
  }

  /** Per-thread scratch: up to four memoized parsed candidate arrays
    * (the Lloyd loop evaluates two NearestClusters — current and
    * previous descriptors — in one projection) plus reusable per-row
    * buffers. Tasks evaluate rows single-threaded, so thread-local
    * reuse is safe. */
  private final class Scratch {
    val keyBase = new Array[AnyRef](4)
    val keyOff = new Array[Long](4)
    val keyLen = new Array[Long](4)
    val parsed = new Array[Cands](4)
    var next = 0
    var q: Array[Long] = null
    var d2hi: Array[Long] = null
    var d2lo: Array[Long] = null
    var idx: Array[Int] = null
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Unsigned high 64 bits of a×b where b ≥ 0 (cn² / squared diffs). */
  @inline private def umulHigh(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b)

  private def parse(cands: ArrayData, clIdx: Int, sIdx: Int, cnIdx: Int,
                    clIsLong: Boolean): Cands = {
    val k = cands.numElements()
    var dim = 0
    if (k > 0) dim = cands.getStruct(0, 3).getArray(sIdx).numElements()
    val out = new Cands(k, dim)
    var i = 0
    while (i < k) {
      val st = cands.getStruct(i, 3)
      if (st == null)
        throw new IllegalArgumentException("graft_nearest: null candidate struct")
      out.cl(i) = if (clIsLong) st.getLong(clIdx) else st.getInt(clIdx).toLong
      val cni = st.getLong(cnIdx)
      out.cn(i) = cni
      // the comparator needs cn² in int64; loud past ~3·10⁹ rows/cluster
      // (far above the decimal contract's own cn ≤ ~10⁶ headroom)
      out.cn2(i) = Math.multiplyExact(cni, cni)
      val sa = st.getArray(sIdx)
      if (sa.numElements() != dim)
        throw new IllegalArgumentException(
          s"graft_nearest: candidate sum width ${sa.numElements()} != $dim")
      var j = 0
      while (j < dim) {
        if (sa.isNullAt(j))
          throw new IllegalArgumentException(s"graft_nearest: null sum element at $j")
        out.s(i * dim + j) = sa.getLong(j)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Memoized parse: same backing buffer (broadcast row / literal) →
    * reuse the flat arrays; content-less identity is safe because
    * ArrayData from literals and broadcast relations is immutable. */
  private def parsed(cands: ArrayData, clIdx: Int, sIdx: Int, cnIdx: Int,
                     clIsLong: Boolean, sc: Scratch): Cands = {
    var base: AnyRef = cands
    var off = 0L
    var len = -1L
    cands match {
      case u: UnsafeArrayData =>
        base = u.getBaseObject; off = u.getBaseOffset; len = u.getSizeInBytes
      case _ =>
    }
    var i = 0
    while (i < 4) {
      if ((sc.keyBase(i) eq base) && sc.keyOff(i) == off && sc.keyLen(i) == len)
        return sc.parsed(i)
      i += 1
    }
    val p = parse(cands, clIdx, sIdx, cnIdx, clIsLong)
    val slot = sc.next
    sc.keyBase(slot) = base; sc.keyOff(slot) = off; sc.keyLen(slot) = len
    sc.parsed(slot) = p
    sc.next = (slot + 1) & 3
    p
  }

  /** cmp of candidates a, b under the exact rational order
    * d2/cn²: sign of d2_a·cn2_b − d2_b·cn2_a (192-bit), ties by cl. */
  private def cmpCand(sc: Scratch, c: Cands, a: Int, b: Int): Int = {
    // product = (hi,lo) × w, with hi < 2^63 (10^38 cap) and w ≥ 0
    // words: [p2, p1, p0]; parity check: past 10^38−1 the interpreted
    // decimal chain aborts — so do we
    val wA = c.cn2(b); val wB = c.cn2(a)
    val aLo = sc.d2lo(a); val aHi = sc.d2hi(a)
    val bLo = sc.d2lo(b); val bHi = sc.d2hi(b)
    val pa0 = aLo * wA
    val pa1base = umulHigh(aLo, wA)
    val pa1 = pa1base + aHi * wA // low half of aHi·wA; addition can carry into p2
    val ca = if (java.lang.Long.compareUnsigned(pa1, pa1base) < 0) 1L else 0L
    val pa2 = Math.multiplyHigh(aHi, wA) + ca
    val pb0 = bLo * wB
    val pb1base = umulHigh(bLo, wB)
    val pb1 = pb1base + bHi * wB
    val cb = if (java.lang.Long.compareUnsigned(pb1, pb1base) < 0) 1L else 0L
    val pb2 = Math.multiplyHigh(bHi, wB) + cb
    if (pa2 != 0 || cmp128(pa1, pa0, T38M1_HI, T38M1_LO) > 0 ||
        pb2 != 0 || cmp128(pb1, pb0, T38M1_HI, T38M1_LO) > 0)
      throw new ArithmeticException(
        "graft_nearest: d2*cn^2 exceeds decimal(38,0) headroom (the documented " +
          "exactness contract); the interpreted comparator would ANSI-overflow here too")
    val c1 = cmp128(pa1, pa0, pb1, pb0)
    if (c1 != 0) c1
    else java.lang.Long.compare(c.cl(a), c.cl(b))
  }

  @inline private def cmp128(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Int = {
    val h = java.lang.Long.compareUnsigned(aHi, bHi)
    if (h != 0) h else java.lang.Long.compareUnsigned(aLo, bLo)
  }

  private def toDecimal(hi: Long, lo: Long): Decimal =
    if (hi == 0L && lo >= 0L) Decimal(lo)
    else {
      val bytes = new Array[Byte](17)
      var i = 0
      while (i < 8) {
        bytes(1 + i) = (hi >>> (56 - 8 * i)).toByte
        bytes(9 + i) = (lo >>> (56 - 8 * i)).toByte
        i += 1
      }
      Decimal(BigDecimal(new java.math.BigInteger(bytes)), 38, 0)
    }

  /** Top-`p` candidates by exact rational distance for one row. */
  def nearest(q: ArrayData, cands: ArrayData, p: Int, clIdx: Int, sIdx: Int,
              cnIdx: Int, clIsLong: Boolean): ArrayData = {
    val sc = scratch.get()
    val c = parsed(cands, clIdx, sIdx, cnIdx, clIsLong, sc)
    val k = c.k
    if (k == 0) return new GenericArrayData(new Array[Any](0))
    val dim = c.dim
    if (q.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_nearest: vector width ${q.numElements()} != candidate width $dim")
    if (sc.q == null || sc.q.length < dim) sc.q = new Array[Long](dim)
    if (sc.d2hi == null || sc.d2hi.length < k) {
      sc.d2hi = new Array[Long](k); sc.d2lo = new Array[Long](k); sc.idx = new Array[Int](k)
    }
    val qa = sc.q
    var j = 0
    while (j < dim) {
      if (q.isNullAt(j))
        throw new IllegalArgumentException(s"graft_nearest: null vector element at $j")
      qa(j) = q.getLong(j)
      j += 1
    }
    // exact unsigned-128 d2 per candidate, 10^38−1-capped per step (the
    // decimal(38,0) accumulator's own headroom — loud, never silent)
    var i = 0
    while (i < k) {
      val cni = c.cn(i)
      val off = i * dim
      var hi = 0L; var lo = 0L
      j = 0
      while (j < dim) {
        val diff = Math.subtractExact(Math.multiplyExact(cni, qa(j)), c.s(off + j))
        val ad = if (diff < 0) -diff else diff // −2^63 wraps to itself: correct as unsigned
        val plo = ad * ad
        val phi = umulHigh(ad, ad)
        val nlo = lo + plo
        if (java.lang.Long.compareUnsigned(nlo, lo) < 0) hi += 1L
        lo = nlo
        hi += phi
        if (cmp128(hi, lo, T38M1_HI, T38M1_LO) > 0)
          throw new ArithmeticException(
            "graft_nearest: d2 exceeds decimal(38,0) headroom (documented contract)")
        j += 1
      }
      sc.d2hi(i) = hi; sc.d2lo(i) = lo; sc.idx(i) = i
      i += 1
    }
    // partial selection sort: top-p of k under the exact comparator
    val m = if (p < k) p else k
    val idx = sc.idx
    var slot = 0
    while (slot < m) {
      var best = slot
      var t = slot + 1
      while (t < k) {
        if (cmpCand(sc, c, idx(t), idx(best)) < 0) best = t
        t += 1
      }
      val tmp = idx(slot); idx(slot) = idx(best); idx(best) = tmp
      slot += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      val w = idx(i)
      val row = new GenericInternalRow(3)
      if (clIsLong) row.update(0, c.cl(w)) else row.update(0, c.cl(w).toInt)
      row.update(1, c.cn(w))
      row.update(2, toDecimal(sc.d2hi(w), sc.d2lo(w)))
      out(i) = row
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact d2 = Σ(cn·q_i − s_i)² as decimal(38,0) — the single-candidate
    * form (per-label lattice distance, see q_embed_outliers). Same
    * arithmetic and the same loud 10^38−1 headroom as [[nearest]]. */
  def latticeD2(q: ArrayData, s: ArrayData, cn: Long): Decimal = {
    val dim = q.numElements()
    if (s.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft_latticed2: widths differ (${dim} vs ${s.numElements()})")
    var hi = 0L; var lo = 0L
    var j = 0
    while (j < dim) {
      if (q.isNullAt(j) || s.isNullAt(j))
        throw new IllegalArgumentException(s"graft_latticed2: null element at $j")
      val diff = Math.subtractExact(Math.multiplyExact(cn, q.getLong(j)), s.getLong(j))
      val ad = if (diff < 0) -diff else diff
      val plo = ad * ad
      val phi = umulHigh(ad, ad)
      val nlo = lo + plo
      if (java.lang.Long.compareUnsigned(nlo, lo) < 0) hi += 1L
      lo = nlo
      hi += phi
      if (cmp128(hi, lo, T38M1_HI, T38M1_LO) > 0)
        throw new ArithmeticException(
          "graft_latticed2: d2 exceeds decimal(38,0) headroom (documented contract)")
      j += 1
    }
    toDecimal(hi, lo)
  }
}

/** `graft_nearest(q array<bigint>, cands array<struct<cl,s,cn>>, p) ->
  * array<struct<cl, cn, d2 decimal(38,0)>>` — the top-`p` prefix of
  * [[graft.functions.KMeans.nearestSorted]]'s exact sorted candidate
  * list, computed natively. See [[KMeansOps.nearest]]. */
case class NearestClusters(left: Expression, right: Expression, p: Int)
  extends BinaryExpression {
  require(p >= 1, s"graft_nearest requires p >= 1, got $p")

  override def prettyName: String = "graft_nearest"

  private lazy val candsStruct: StructType =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val clIdx: Int = candsStruct.fieldIndex("cl")
  private lazy val sIdx: Int = candsStruct.fieldIndex("s")
  private lazy val cnIdx: Int = candsStruct.fieldIndex("cn")
  private lazy val clIsLong: Boolean = candsStruct(clIdx).dataType == LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"graft_nearest: $msg")
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(st: StructType, _)) =>
        val byName = st.fields.map(f => f.name -> f.dataType).toMap
        (byName.get("cl"), byName.get("s"), byName.get("cn")) match {
          case (Some(IntegerType | LongType), Some(ArrayType(LongType, _)), Some(LongType)) =>
            TypeCheckResult.TypeCheckSuccess
          case _ => fail(s"candidate struct must carry cl int/bigint, s array<bigint>, " +
            s"cn bigint, got $st")
        }
      case (l, r) => fail(s"requires (array<bigint>, array<struct>), got ($l, $r)")
    }
  }

  override def dataType: DataType = {
    val clType = candsStruct(clIdx).dataType
    ArrayType(StructType(Seq(
      StructField("cl", clType, candsStruct(clIdx).nullable),
      StructField("cn", LongType, candsStruct(cnIdx).nullable),
      StructField("d2", DecimalType(38, 0), nullable = true))),
      containsNull = false)
  }

  override protected def nullSafeEval(q: Any, cands: Any): Any =
    KMeansOps.nearest(q.asInstanceOf[ArrayData], cands.asInstanceOf[ArrayData],
      p, clIdx, sIdx, cnIdx, clIsLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, cands) =>
      s"${ev.value} = graft.plans.KMeansOps.nearest($q, $cands, $p, $clIdx, $sIdx, $cnIdx, $clIsLong);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestClusters =
    copy(left = l, right = r)
}

/** Column-level constructors. */
object KMeansExpressions {
  def nearestClusters(q: Column, cands: Column, p: Int): Column =
    ExpressionUtils.column(NearestClusters(
      ExpressionUtils.expression(q), ExpressionUtils.expression(cands), p))

  /** `(q array<bigint>, s array<bigint>, cn bigint) -> decimal(38,0)` — see
    * [[KMeansOps.latticeD2]]. */
  def latticeD2(q: Column, s: Column, cn: Column): Column =
    StaticKernel(KMeansOps, "latticeD2", DecimalType(38, 0),
      Seq(q -> ArrayType(LongType), s -> ArrayType(LongType), cn -> LongType))
}
