package graft

/** Physical-plan assertions: the scale contract, checked mechanically.
  * A query that silently loses its pushdown/broadcast/top-k shape would
  * still pass value checks at sf0.01 — these specs pin the plan. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    // other suites may have cached overlapping relations, which would
    // substitute InMemoryRelations (full schema) into these plans
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.executedPlan.toString
  }

  test("the spec session carries the Sessions policy the bench and collector run under") {
    // every pin below is only as honest as the session it plans under:
    // cached-plan repartitioning changes where AQE may coalesce, and the
    // codec changes every parquet write a spec makes
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == "zstd")
    // per-session artifact isolation would recompile every drain's classes
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("q_filter_project pushes predicates and prunes columns at the scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(o_orderstatus)") || p.contains("EqualTo(o_orderstatus"), p)
    // only the 4 needed columns are read
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("o_orderdate"), "scan reads pruned column:\n" + p)
  }

  test("q_join_broadcast keeps the fact side shuffle-free (BroadcastHashJoin)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk_orders is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_incremental_antijoin broadcasts the existing-key side") {
    val p = plan("q_incremental_antijoin")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q_tfidf's UNHINTED vocabulary join is still broadcast while small") {
    // the df frame carries no broadcast() hint (vocabulary-sized at
    // corpus scale — a forced hint would be the OOM); the optimizer must
    // still pick the broadcast from size stats at this scale, degrading
    // to a shuffled equi-join only when the vocabulary outgrows the
    // threshold
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_dedup_clusters' UNHINTED labels/sizes joins are still broadcast while small") {
    // labels is corpus-fraction-sized at real near-dup rates, so the
    // hint is gone; at sf0.001 the optimizer still broadcasts both left
    // joins from size stats
    val p = plan("q_dedup_clusters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
  }

  test("q_offset_ledger scans only the two ledger columns") {
    val p = plan("q_offset_ledger")
    // column pruning must reach the scan: none of the other 4 columns read
    assert(p.contains("ReadSchema"), p)
    Seq("event_type", "props", "value").foreach(c =>
      assert(!p.contains(c), s"scan reads pruned column $c:\n$p"))
  }

  test("q1_agg partially aggregates before the exchange") {
    val p = plan("q1_agg")
    val iHash = p.indexOf("HashAggregate")
    assert(iHash >= 0, p)
    // partial aggregate appears below (after in text) the exchange
    assert(p.contains("Exchange"), p)
  }

  test("q_hash_topk_sample is TakeOrderedAndProject — no global sort of the corpus") {
    val p = plan("q_hash_topk_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), "global sort leaked in:\n" + p)
  }

  test("q_decontaminate broadcasts the eval shingle index (training side never shuffle-joins)") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "eval join fell back to SMJ:\n" + p)
  }

  test("q_join_outer reuses the join's hash partitioning for the aggregate") {
    val df = SparkEntry.queries("q_join_outer")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // two input shuffles for the full-outer join; the groupBy on the
    // coalesced key must NOT add a third hash exchange
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles <= 2, s"aggregate re-shuffled after full-outer join:\n$p")
  }

  test("date-partitioned lake reads prune partitions at the source") {
    import org.apache.spark.sql.functions._
    val dest = java.nio.file.Files.createTempDirectory("prune").toString + "/lake"
    val ev = graft.sources.LakeWriter.withDatePath(Tables(spark, sf001, "events"))
    ev.write.partitionBy("date_path").parquet(dest)
    val firstDate = ev.select(min("date_path")).collect().head.getString(0)
    val df = spark.read.parquet(dest).filter(col("date_path") === firstDate)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("date_path"), p)
    // the pruned scan must list only the matching partition directory
    assert(df.count() == ev.filter(col("date_path") === firstDate).count())
  }

  test("whole-stage codegen covers the text-analysis hot path") {
    // codegen'd stages print with a '*(n)' prefix — only visible on the
    // FINAL adaptive plan, so execute first
    val df = SparkEntry.queries("q_text_quality")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
  }

  test("q_heavy_hitters top-k is TakeOrderedAndProject over the reduced term table") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_quantile_filter broadcasts the per-lang bounds into the second pass") {
    val p = plan("q_quantile_filter")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "bounds join fell back to SMJ:\n" + p)
  }

  test("q_funnel pushes the step predicates to the scans and bounds its exchanges") {
    val df = SparkEntry.queries("q_funnel")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // each step's event_type filter must reach its parquet scan
    Seq("view", "click", "purchase").foreach(step =>
      assert(p.contains(s"EqualTo(event_type,$step)"),
        s"step filter $step not pushed to the scan:\n$p"))
    // every stage keys on user_id: at most one hash exchange per
    // aggregate/join input (3 scans + 3 aggregates → ≤ 6), no AQE extras
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles <= 6, s"funnel re-shuffled beyond its stage inputs:\n$p")
  }

  test("q_agg_salted keeps two aggregation phases (partial merge shape)") {
    val p = plan("q_agg_salted")
    // 4 HashAggregate nodes: partial+final for each of the two phases
    val n = "HashAggregate".r.findAllIn(p).length
    assert(n >= 4, s"expected the two-phase salted shape, got $n HashAggregates:\n$p")
  }

  test("q_rolling_range runs a single window over one user_id exchange") {
    val p = plan("q_rolling_range")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 1, s"rolling window re-shuffled:\n$p")
  }

  test("q_data_profile reads the corpus exactly once (single-pass profile)") {
    val p = plan("q_data_profile")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profile must be one wide agg over one scan, got $scans scans:\n$p")
  }

  test("global-rank queries carry no partition-less window (single-reducer guard)") {
    // q_user_segments and q_concentration went through one round of being
    // single-reducer global windows; pin the distributed shape so a
    // refactor can't quietly reintroduce `Window.orderBy` over the data
    for (name <- Seq("q_user_segments", "q_concentration")) {
      val p = plan(name)
      val specs = p.linesIterator.filter(_.contains("windowspecdefinition(")).toSeq
      assert(specs.nonEmpty, s"$name: expected the bucket-partitioned rank window:\n$p")
      specs.foreach { l =>
        assert(l.contains("windowspecdefinition(_graft_bkt#"),
          s"$name: partition-less window found:\n$l")
      }
    }
  }
}
