package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Group-local SemDeDup pair summarization — the r18 replacement for
  * q_semdedup's (cluster, shard)-keyed SELF-JOIN pair stage.
  *
  * Why (guide §8 / §2.3, measured): the pair stage was the r17 sf100
  * wall's unattributed constant (157 s of q_semdedup's 173 s, wall-clock
  * exp 1.25 over the decade while the PAIR COUNT is linear by
  * construction). The cause is row materialization, not the per-pair
  * math: the equi-join emits one row per pair, and every one of the
  * ~2.0×10⁸ sf100 pair rows carries TWO 64-element int64 vectors
  * (~1 KB/row ≈ 200 GB of joined-row traffic through the sort-merge
  * join) only so a single int64 dot can be taken and the row dropped.
  * Guide §8's rule — never move heavy payloads per DECISION, move them
  * once — applies: every pair decision is local to one (cluster, shard)
  * group, and the shard cap (vec_id DIV 2000) bounds the group at 2000
  * members ≈ 1 MB of vectors. So: shuffle each vector ONCE into its
  * group (collect_list over the same (cl, sh) key the join used), then
  * loop the pairs in primitive arrays inside this expression, emitting
  * only the per-vid survivors — output rows ≤ group size, never pairs.
  *
  * Semantics contract (oracle-pinned): for the sorted member ids of one
  * group, a pair is (kid, vid) with kid < vid; it HITS iff
  * `CAST(dot AS DOUBLE) / nullif(nrm_kid * nrm_vid, 0.0) >= tau`, with
  * dot the exact int64 quantized dot — bit-identical IEEE ops to the
  * Column chain it replaces (`cosineFrom(qdot(aq, bq), anrm, bnrm)`,
  * a zero denominator yields NULL = no hit). Output: one
  * struct(vid, keeper_id = MIN kid over hits, n_near = COUNT hits) per
  * vid with ≥ 1 hit — exactly the old `filter(cos ≥ τ).groupBy(vid)
  * .agg(min(kid), count(1))`. SemDedupPairsSpec pins this expression
  * against the join shape on real data.
  *
  * Scale: O(n²·dim) integer work per group with n capped by the shard —
  * the SemDeDup posture (k ∝ corpus, bounded shards) keeps group count
  * linear in the corpus and per-group cost constant, so the stage is
  * linear end-to-end with a ~100ns/pair constant instead of ~1 KB/pair
  * of join-row materialization.
  */
object SemDedupOps {

  /** One group's pair summaries; see object doc for the exact contract.
    * `members`: array<struct<vec_id bigint, q array<bigint>, nrm double>>. */
  def pairSummaries(members: ArrayData, tau: Double): ArrayData = {
    val n = members.numElements()
    if (n <= 1) return new GenericArrayData(new Array[Any](0))
    val dim = members.getStruct(0, 3).getArray(1).numElements()
    val ids = new Array[Long](n)
    val nrm = new Array[Double](n)
    val q = new Array[Long](n * dim)
    var i = 0
    while (i < n) {
      val st = members.getStruct(i, 3)
      if (st == null)
        throw new IllegalArgumentException("graft_semdedup_pairs: null member struct")
      ids(i) = st.getLong(0)
      nrm(i) = st.getDouble(2)
      val qa = st.getArray(1)
      if (qa.numElements() != dim)
        throw new IllegalArgumentException(
          s"graft_semdedup_pairs: vector width ${qa.numElements()} != $dim")
      var j = 0
      while (j < dim) {
        if (qa.isNullAt(j))
          throw new IllegalArgumentException(s"graft_semdedup_pairs: null element at $j")
        q(i * dim + j) = qa.getLong(j)
        j += 1
      }
      i += 1
    }
    // order members by id so slot i < slot j ⇔ id(i) < id(j) — the join's
    // kid < vid condition becomes the loop's triangular order
    val idx = Array.range(0, n).map(Integer.valueOf)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) =>
      java.lang.Long.compare(ids(a), ids(b)))
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var jj = 1
    while (jj < n) {
      val vj = idx(jj)
      val vOff = vj * dim
      var keeper = Long.MaxValue
      var hits = 0L
      var ii = 0
      while (ii < jj) {
        val vi = idx(ii)
        val iOff = vi * dim
        var dot = 0L
        var d = 0
        while (d < dim) { dot += q(iOff + d) * q(vOff + d); d += 1 }
        // bit-identical to cosineFrom(qdot(…)): double multiply, NULL (=
        // no hit) on a zero denominator, double divide, >= tau
        val den = nrm(vi) * nrm(vj)
        if (den != 0.0 && dot.toDouble / den >= tau) {
          hits += 1L
          if (ids(vi) < keeper) keeper = ids(vi)
        }
        ii += 1
      }
      if (hits > 0L) {
        val row = new GenericInternalRow(3)
        row.update(0, ids(vj))
        row.update(1, keeper)
        row.update(2, hits)
        out += row
      }
      jj += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object SemDedupExpressions {
  /** `(members array<struct<vec_id, q, nrm>>) ->
    * array<struct<vid, keeper_id, n_near>>` — see [[SemDedupOps]]. */
  def pairSummaries(members: Column, tau: Double): Column =
    StaticKernel(SemDedupOps, "pairSummaries",
      ArrayType(StructType(Seq(
        StructField("vid", LongType, nullable = false),
        StructField("keeper_id", LongType, nullable = false),
        StructField("n_near", LongType, nullable = false))), containsNull = false),
      Seq(members -> ArrayType(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("q", ArrayType(LongType)),
        StructField("nrm", DoubleType)))),
        lit(tau) -> DoubleType))
}
