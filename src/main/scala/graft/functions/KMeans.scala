package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed k-means (Lloyd) over quantized integer vectors —
  * the full fit loop behind `q_kmeans_fit`, generalizing the single
  * oracle-gated step (`q_kmeans_step`).
  *
  * Exactness: centroids are never materialized as doubles mid-loop.
  * A cluster is its integer element-sum vector `s` plus its count `cn`
  * (centroid = s/cn as a rational); the scaled distance to it is
  * d2 = Σ(cn·q_i − s_i)² = cn²·|q − s/cn|², and nearest-centroid across
  * clusters of UNEQUAL size compares the rationals d2/cn² by
  * cross-multiplication in decimal(38,0) — so every assignment is exact
  * and deterministic, and both engines would fail LOUDLY (ANSI overflow)
  * past the documented headroom rather than diverge silently.
  *
  * Scale shape per iteration: cluster sums broadcast (k × (dim+1)
  * integers, folded into ONE array-of-structs row); assignment is a
  * NARROW per-row argmin over that broadcast array — no per-candidate
  * row blowup, no shuffle keyed on vec_id; the recompute is one
  * map-side-combined groupBy(cluster) aggregation whose state is the
  * bounded (dim+1)-long partial sum vector. The corpus is read twice
  * per iteration and shuffles only those bounded partials.
  *
  * Iteration state lives ON THE DRIVER: the k cluster descriptors
  * (cl, s[dim], cn) are k·(dim+1) exact integers — a model-sized
  * constant, collected per round exactly as Spark MLlib's Lloyd loop
  * does — and each round embeds them back as a constant-folded literal
  * array. One round is therefore ONE map-side-combined aggregation job
  * over the cached corpus (assign to nearest under the current
  * descriptors, group by the new cluster, emit new sums + objective +
  * moved-count partials); there is no assignment frame, no per-round
  * join, no checkpoint, and no broadcast exchange in the loop at all.
  * The previous round's assignment is recomputed in the same pass from
  * the PREVIOUS descriptors (assignment is a pure function of the
  * descriptors, so the recomputation is exact) — trading a second
  * in-row argmin for the prev-vs-next join/state a materialized
  * assignment would need. The convergence check (moved = 0) is an EXACT
  * fixpoint, possible because assignments are exact integers, not
  * double-rounded.
  */
object KMeans {

  /** The comparator lambda shared by every exact nearest-cluster sort:
    * orders (cl, cn, d2) candidates by the EXACT rational distance
    * d2/cn² — cross-multiplied in decimal(38,0) (the products exceed
    * int64 already at sf0.01), ties by cl. Comparing raw d2 = cn²·dist²
    * would bias the ordering toward small clusters. */
  private def exactCmp: String =
    "(a, b) -> CASE " +
      "WHEN CAST(a.d2 AS DECIMAL(38,0))*b.cn*b.cn < CAST(b.d2 AS DECIMAL(38,0))*a.cn*a.cn THEN -1 " +
      "WHEN CAST(a.d2 AS DECIMAL(38,0))*b.cn*b.cn > CAST(b.d2 AS DECIMAL(38,0))*a.cn*a.cn THEN 1 " +
      "WHEN a.cl < b.cl THEN -1 WHEN a.cl > b.cl THEN 1 ELSE 0 END"

  /** SQL fragment: ALL candidates from a `cands` array column of
    * (cl, s, cn) structs scored against the row's `q` and sorted under
    * the exact rational comparator — computed per ROW (narrow, inside
    * codegen), never as a per-(row × candidate) join. `element_at(…, 1)`
    * of this is the exact nearest cluster; `slice(…, 1, p)` is an exact
    * probe list. */
  def nearestSorted(cands: String = "cands", q: String = "q"): String = {
    // The per-TERM SQUARE widens to decimal(38,0) — |cn·x − s| ≈ cn·2^20
    // grows with cluster size and its int64 square ANSI-overflows right
    // around 200k-vector clusters (found empirically by the sf10 scaling
    // harness). The DIFF itself stays int64: cn·x ≤ cn·2^20 < 2^63 up to
    // ~8×10¹² vectors per cluster, far past any corpus this targets, and
    // ANSI mode errors loudly rather than wrapping beyond it. Keeping the
    // diff in longs matters at scale: the earlier form ran ~5 decimal ops
    // per dimension (two cn·x decimal multiplies, a decimal subtract,
    // multiply, add) and precision-38 decimals are BigDecimal-backed —
    // at the sf100 gate (2M vectors × k × 64 dims × multiple passes) the
    // allocation rate became the GC wall and the fit family went
    // super-linear on wall-clock. One decimal multiply + one decimal add
    // per dimension, same exact integer d2.
    val scored = s"transform($cands, c -> named_struct(" +
      s"'cl', c.cl, 'cn', c.cn, " +
      s"'d2', aggregate(zip_with($q, c.s, (x, y) -> " +
      "CAST(c.cn*x - y AS DECIMAL(38,0)) * (c.cn*x - y)), " +
      "CAST(0 AS DECIMAL(38,0)), (acc, v) -> CAST(acc + v AS DECIMAL(38,0)))))"
    s"array_sort($scored, $exactCmp)"
  }

  /** The top-`p` prefix of [[nearestSorted]] as ONE native codegen
    * expression ([[graft.plans.NearestClusters]]) — identical exact
    * integer argmin (same struct fields, same decimal(38,0) d2, same
    * rational order and loud 10^38 headroom), computed as a primitive
    * int64/128-bit loop instead of interpreted decimal lambdas. The
    * r17 sf100 control proved the interpreted form was the fit
    * family's heap-independent wall (q_kmeans_fit 1016 s, exp 1.64);
    * VectorExprSpec pins native ≡ interpreted on real data. */
  def nearestTop(p: Int, cands: Column = col("cands"), q: Column = col("q")): Column =
    graft.plans.KMeansExpressions.nearestClusters(q, cands, p)

  /** The k cluster descriptors folded into ONE (cands: array<struct(cl,
    * s, cn)>) row, the unit the narrow argmin broadcasts. Bounded by k —
    * a model parameter, never corpus-proportional. */
  def candidatesRow(cs: DataFrame): DataFrame =
    cs.agg(collect_list(struct(col("cl"), col("s"), col("cn"))).as("cands"))

  /** Exact per-label element sums of quantized vectors as (cl, s[dim],
    * cn) from a frame with (label, q) columns — ONE map-side-combined
    * shuffle whose aggregation state is the bounded (dim+1)-long partial
    * vector per label (never `collect_list(q)`, whose buffer would hold
    * every vector of a label and OOM a task at corpus scale).
    *
    * `dim` is the fixed vector width (a model constant, 64 for the
    * `embeddings` table); rows narrower than `dim` fail LOUDLY on the
    * out-of-bounds `element_at` rather than silently truncating. */
  def labelSums(emb: DataFrame, dim: Int = 64): DataFrame =
    emb.groupBy(col("label").as("cl"))
      .agg(array((1 to dim).map(i => sum(element_at(col("q"), i))): _*).as("s"),
        count(lit(1)).as("cn"))

  /** Exact nearest-cluster assignment: (vec_id, cl, d2n) where d2n is
    * the winning scaled squared distance d2/cn² as a double (exact
    * comparisons happen BEFORE this one presentational division — d2n
    * exists for objective tracking, not for ordering). Narrow: one
    * corpus pass against the broadcast candidate row, no shuffle. */
  def assign(emb: DataFrame, cs: DataFrame): DataFrame =
    emb.crossJoin(broadcast(candidatesRow(cs)))
      // empty-cs guard: the legacy join shape dropped every row when no
      // cluster existed; keep that contract (and keep ANSI element_at
      // off the empty array)
      .filter(size(col("cands")) > 0)
      .withColumn("w", element_at(nearestTop(1), 1))
      .select(col("vec_id"), col("w.cl").as("cl"),
        (col("w.d2").cast("double") /
          (col("w.cn") * col("w.cn")).cast("double")).as("d2n"))

  /** Fit result: converged assignments (vec_id, cl, d2n), final cluster
    * sums (cl, s, cn), iterations actually run, whether the assignment
    * fixpoint was reached, and the per-iteration objective (Σ d2/cn² in
    * quantized units — monotonically non-increasing by Lloyd's
    * argument). `clusters` is a driver-local relation (k rows) and
    * `assignments` a LAZY narrow plan over the caller's frame (one
    * constant-folded argmin pass when consumed) — nothing is pinned in
    * block storage, so [[Fit.release]] is retained only for API
    * compatibility and is a no-op. */
  final case class Fit(assignments: DataFrame, clusters: DataFrame,
                       iterations: Int, converged: Boolean,
                       objective: Seq[Double]) {
    def release(): Unit = {
      Checkpoints.releaseNow(assignments)
      Checkpoints.releaseNow(clusters)
    }
  }

  /** The k cluster descriptors as ONE constant-folded literal
    * array<struct(cl, s, cn)> column — the loop's way to hand the
    * driver-resident round state back to the executors without a
    * broadcast exchange (k·(dim+1) integers fold to a single Literal). */
  private def candsLit(cs: Seq[(Long, Seq[Long], Long)]): Column =
    array(cs.map { case (cl, sv, cn) =>
      struct(lit(cl).as("cl"), array(sv.map(lit): _*).as("s"), lit(cn).as("cn"))
    }: _*)

  /** Lloyd iterations from the `label` column init until the assignment
    * fixpoint or `maxIter`. `emb` must carry (vec_id, label, q). */
  def fit(emb: DataFrame, maxIter: Int): Fit = {
    require(maxIter >= 1)
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("vec_id"), col("label"), col("q")).persist()
    def descriptors(rows: Seq[org.apache.spark.sql.Row]): Seq[(Long, Seq[Long], Long)] =
      // label (the init cl) ships as int32 in the lake — widen on read
      rows.map(r => (r.getAs[Number](0).longValue, r.getSeq[Long](1), r.getLong(2)))
    // S₁ from the label init — this action also materializes the cache
    var s = descriptors(labelSums(e.select(col("label"), col("q"))).collect().toIndexedSeq)
    if (s.isEmpty) {
      // empty corpus: the fixpoint is immediate and every frame is a
      // well-formed empty (KMeansSpec pins no-NPE here)
      val emptyAsg = e.select(col("vec_id"), col("label").as("cl"), lit(0.0).as("d2n"))
        .filter(lit(false))
      e.unpersist()
      return Fit(emptyAsg, Seq.empty[(Long, Seq[Long], Long)].toDF("cl", "s", "cn"),
        1, converged = true, Seq(0.0))
    }
    val dim = s.head._2.length
    var obj = List.empty[Double]
    var iter = 0
    var converged = false
    var prev: Option[Seq[(Long, Seq[Long], Long)]] = None // None = label init
    var used = s
    while (iter < maxIter && !converged) {
      used = s
      // ONE aggregation job: assign each row to its nearest descriptor
      // (exact rational argmin over the literal array — narrow, inside
      // codegen), re-derive the PREVIOUS assignment the same way (or take
      // the label column on round 1), and reduce to the new per-cluster
      // sums plus the objective and moved-count partials. The shuffle
      // carries only k bounded partial states.
      val base = prev match {
        case None    => e.withColumn("cands", candsLit(used))
        case Some(p) => e.withColumn("cands", candsLit(used))
          .withColumn("pcands", candsLit(p))
      }
      val assigned = base
        .withColumn("w", element_at(nearestTop(1), 1))
        .withColumn("p_cl", prev match {
          case None    => col("label")
          case Some(_) => element_at(nearestTop(1, col("pcands")), 1).getField("cl")
        })
      val rows = assigned
        .select(col("w.cl").as("cl"), col("q"),
          (col("w.d2").cast("double") /
            (col("w.cn") * col("w.cn")).cast("double")).as("d2n"),
          (col("w.cl") =!= col("p_cl")).as("moved"))
        .groupBy(col("cl"))
        .agg(array((1 to dim).map(i => sum(element_at(col("q"), i))): _*).as("s"),
          count(lit(1)).as("cn"),
          sum(col("d2n")).as("obj"),
          count(when(col("moved"), 1)).as("moved"))
        .collect().toIndexedSeq
      obj ::= rows.map(r => if (r.isNullAt(3)) 0.0 else r.getDouble(3)).sum
      converged = rows.map(_.getLong(4)).sum == 0L
      prev = Some(used)
      s = descriptors(rows)
      iter += 1
    }
    // final assignment = argmin under the LAST round's input descriptors
    // (what the loop's convergence statement is about); final clusters =
    // the sums of that assignment, which the last round already
    // collected as `s`. Both are cheap: assignments re-derive in one
    // narrow pass when (if) a consumer materializes them, clusters are a
    // k-row local relation.
    val out = e
      .withColumn("cands", candsLit(used))
      .withColumn("w", element_at(nearestTop(1), 1))
      .select(col("vec_id"), col("w.cl").as("cl"),
        (col("w.d2").cast("double") /
          (col("w.cn") * col("w.cn")).cast("double")).as("d2n"))
    e.unpersist()
    Fit(out, s.toDF("cl", "s", "cn"), iter, converged, obj.reverse)
  }
}
