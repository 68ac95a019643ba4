package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the empirical scaling harness, with two growth
  * regimes:
  *
  * DEFAULT (disjoint shards): replicates a testdata lake `k`× with every
  * id space shifted per replica, document tokens suffixed per replica
  * (replica 0 verbatim), embeddings jittered per replica — so the scaled
  * lake has `k`× the rows with the ORIGINAL's per-shard statistical
  * structure (dup rate, degree distribution, label balance) and no
  * cross-shard interactions. This is the "10× more sources" growth
  * regime: scaling exponents measured on it capture how each operator's
  * shuffles/aggregates grow with n.
  *
  * `--densify`: the complementary regime the shard mode deliberately
  * avoids — per-item MULTIPLICITY grows with k instead of source count.
  * Documents and embeddings replicate VERBATIM (ids still shifted, so
  * row identity survives, but every text / vector now has k exact
  * copies: duplicate groups, near-dup neighborhoods and ANN candidate
  * lists all grow k×), and lineitem keeps ONE SHARED partkey space (the
  * co-purchase graph densifies: per-part support, degree, and triangle
  * counts grow with k instead of sharding into k disjoint copies).
  * Orders/events/customers still shard (per-user history growing k× is
  * a generator artifact, not a regime — measured as a 34× as-of-join
  * inflation in the first generator cut). This is the regime where
  * group-bounded windows (dedup keepers, per-key dedup ranks, basket
  * explodes) would go super-linear first; COVERAGE.md carries the
  * measured exponents.
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <destDir> [k=10] [--densify]`.
  * Writes parquet table directories the [[Tables]] loader reads like any
  * sf dir. Only ever writes under the repo (e.g. `target/sf1`) —
  * testdata itself is read-only.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcSfDir> <destDir> [k] [--densify]")
    val src = args(0)
    val dest = args(1)
    val densify = args.contains("--densify")
    val k = args.drop(2).filterNot(_.startsWith("--")).headOption.map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      // Spark's default timestamp output is INT96, which carries NO
      // logical-type annotation — Tables.sniffTsUnit refuses to guess on
      // it (by design). Write annotated micros like the driver testdata.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val reps = broadcast(spark.range(k).toDF("rep"))
    def out(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$dest/$name.parquet")
    // Explosion-safe writer: the k-fold row blow-up happens in the
    // crossJoin, so the repartition must land on the SMALL source side —
    // repartitioning AFTER the join shuffles the whole scaled table
    // through one exchange, and because the source is a single small
    // file the exploded map side is ONE task (measured at k=1000: a
    // 44 GB shuffle spill for a ~9 GB zstd target, single-threaded,
    // near disk exhaustion). Repartition the source first and the
    // explosion stays narrow: `parts` parallel tasks, each exploding
    // its slice straight into its own output file, zero post-explosion
    // shuffle. The same rule a 100 TB generator must follow: never
    // exchange a frame you can exchange before it grows k-fold.
    def outExploded(source: DataFrame, parts: Int, name: String)
                   (build: DataFrame => DataFrame): Unit =
      build(source.repartition(parts)).write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$dest/$name.parquet")

    // small dims verbatim — FK targets for the unshifted keys (customer
    // is NOT here: it shares the user/customer id space with
    // events.user_id and orders.o_custkey, which shards — see below;
    // part is NOT here either: its key space must follow l_partkey —
    // shifted per replica in shard mode, shared in densify mode)
    for (t <- Seq("region", "nation", "supplier"))
      out(spark.read.parquet(s"$src/$t.parquet"), t, 1)

    // documents: shard the id space; in SHARD mode replica r>0 suffixes
    // every token (replica-disjoint vocab — per-shard dup/ngram structure
    // identical to the original, zero cross-shard near-dups; n_chars
    // recomputed); in DENSIFY mode the text replicates VERBATIM, so every
    // document gains k−1 exact copies and duplicate multiplicity grows k×
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dMax = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val scaledText =
      if (densify) $"text"
      else when($"rep" === 0, $"text").otherwise(expr(
        "array_join(transform(split(text, ' '), t -> concat(t, 'x', CAST(rep AS STRING))), ' ')"))
    outExploded(docs, 8, "documents")(d => d.crossJoin(reps)
      .select(($"doc_id" + $"rep" * dMax).as("doc_id"),
        scaledText.as("text"),
        $"lang", $"source")
      .withColumn("n_chars", length($"text").cast("long")))

    // embeddings: shard ids; SHARD mode jitters values per replica (keeps
    // vectors distinct so ANN neighborhoods are not k-fold degenerate);
    // DENSIFY mode replicates vectors verbatim — every neighborhood and
    // cosine-duplicate group grows k×. Labels unchanged either way.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vMax = emb.agg(max($"vec_id")).head.getLong(0) + 1
    val scaledEmb =
      if (densify) $"embedding"
      else expr("transform(embedding, x -> CAST(x + rep * CAST(0.0009765625 AS FLOAT) AS FLOAT))")
    outExploded(emb, 4, "embeddings")(e => e.crossJoin(reps)
      .select(($"vec_id" + $"rep" * vMax).as("vec_id"),
        scaledEmb.as("embedding"),
        $"label"))

    // the user/customer id space is SHARED across events.user_id,
    // orders.o_custkey and customer.c_custkey (the as-of/cohort joins
    // ride it) — one shift base for all three, or per-user order
    // history DENSIFIES k× instead of sharding (measured: the composed
    // as-of join's pair count grew 10× from exactly this mistake in the
    // first generator cut)
    val ev = Tables(spark, src, "events") // normalizes the ts encoding
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val uMax = math.max(
      math.max(ev.agg(max($"user_id")).head.getLong(0),
        cust.agg(max($"c_custkey")).head.getLong(0)),
      ord.agg(max($"o_custkey")).head.getLong(0)) + 1

    // events: shard event AND user id spaces (k disjoint user
    // populations), shift ts by rep minutes so time windows interleave
    val eMax = ev.agg(max($"event_id")).head.getLong(0) + 1
    outExploded(ev, 8, "events")(e => e.crossJoin(reps)
      .select(($"event_id" + $"rep" * eMax).as("event_id"),
        expr("timestampadd(MINUTE, CAST(rep AS INT), ts)").as("ts"),
        ($"user_id" + $"rep" * uMax).as("user_id"),
        $"event_type", $"value", $"props"))

    outExploded(cust, 2, "customer")(c => c.crossJoin(reps)
      .select(($"c_custkey" + $"rep" * uMax).as("c_custkey"),
        $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment"))

    // orders + lineitem: one shared orderkey shift (FK preserved). SHARD
    // mode shifts partkeys too — the co-purchase graph scales as k
    // disjoint copies (constant degree); the part DIMENSION replicates
    // with the SAME shift (one shared pMax base across part and
    // lineitem), or every replica r>0 would carry dangling part FKs and
    // part-joining queries would silently measure a 1/k-pruned join.
    // DENSIFY mode keeps ONE partkey space (part verbatim, l_partkey
    // unshifted): per-part co-purchase support and degree grow k×.
    val oMax = ord.agg(max($"o_orderkey")).head.getLong(0) + 1
    outExploded(ord, 8, "orders")(o => o.crossJoin(reps)
      .select(($"o_orderkey" + $"rep" * oMax).as("o_orderkey"),
        ($"o_custkey" + $"rep" * uMax).as("o_custkey"),
        $"o_orderstatus", $"o_totalprice", $"o_orderdate",
        $"o_orderpriority"))
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val pMax = math.max(
      li.agg(max($"l_partkey")).head.getLong(0),
      part.agg(max($"p_partkey")).head.getLong(0)) + 1
    if (densify) out(part, "part", 1)
    else outExploded(part, 1, "part")(p => p.crossJoin(reps)
      .select((($"p_partkey" + $"rep" * pMax).as("p_partkey") +:
        part.columns.filter(_ != "p_partkey").map(col).toSeq): _*))
    val liPartkey = if (densify) $"l_partkey" else $"l_partkey" + $"rep" * pMax
    outExploded(li, 16, "lineitem")(l => l.crossJoin(reps)
      .select(($"l_orderkey" + $"rep" * oMax).as("l_orderkey"),
        liPartkey.as("l_partkey"),
        $"l_suppkey", $"l_linenumber", $"l_quantity", $"l_extendedprice",
        $"l_discount", $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate"))

    println(s"[scalegen] wrote ${k}x of $src to $dest" +
      (if (densify) " (densify regime)" else " (disjoint-shard regime)"))
    spark.stop()
  }
}
