package graft.plans

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, SparkSpec}

/** Physical-plan regression guards: the scale properties this engine is
  * designed around (broadcasts for small sides, bounded-heap top-k,
  * filter pushdown into the scan, no accidental cartesian products) must
  * not silently regress when a query is edited. Assertions run against
  * the FINAL adaptive plan (post-AQE re-planning), i.e. what would
  * actually execute on a cluster.
  */
class PlanShapeSpec extends SparkSpec {

  private def finalPlan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.collect() // drive to completion so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("q03 top-k: dimension broadcast + bounded-heap TakeOrderedAndProject") {
    val p = finalPlan("q03_topk")
    assert(p.contains("BroadcastHashJoin"), "part side must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT after ORDER BY must be a bounded heap, not a global sort")
    assert(!p.contains("SortMergeJoin"), "no shuffle join for a broadcastable dim")
  }

  test("q01 scan: predicate pushed into the parquet scan") {
    val p = finalPlan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: ["), "scan must carry pushed filters")
    assert(p.contains("l_shipdate") && p.contains("LessThan"),
      "the shipdate predicate must reach the scan")
  }

  test("dedup/similarity self-joins never degenerate to cartesian products") {
    for (q <- Seq("q41_ngram_jaccard", "q43_lsh_candidates", "q46_ann_lsh",
        "q47_embedding_near_dups", "q66_fuzzy_match",
        // round-6 graph/join additions: wedge join, source matrix,
        // PageRank rounds, 6-table star, TF-IDF keyword join
        "q134_triangle_stats", "q130_source_overlap", "q122_pagerank",
        "q139_local_supplier_volume", "q135_source_keywords",
        // round-7: the residual audit (edge rounds + vertex re-joins) and
        // the positional-filtered prefix join
        "q142_pagerank_residuals", "q141_prefix_join",
        // round-7 late additions: containment join, dedup savings (hash-key
        // join + cluster-label join), Q3 star, decorrelated subquery
        "q143_containment_join", "q147_dedup_savings",
        "q148_shipping_priority", "q149_above_nation_avg",
        // round-8: the KMV overlap (sketch joins + 1-row stats broadcast),
        // the bloom audit (positions joins), the CM probe join, and the
        // snapshot fingerprint/drift full joins
        "q154_kmv_join_estimate", "q157_bloom_semi_audit",
        "q159_cm_sketch_audit", "q156_snapshot_diff",
        "q161_histogram_drift",
        // round-8 late additions: winsorized mean + weighted median (clip
        // points / percentile frames join back as broadcasts), advisor,
        // incremental refresh (manifest full join), matryoshka rank join,
        // revenue share and user growth (grain frames + window)
        "q162_winsorized_mean", "q151_weighted_median", "q163_join_advisor",
        "q164_incremental_refresh", "q165_matryoshka_audit",
        "q166_revenue_share", "q167_user_growth",
        // round-9: Q18 shape, the executed salt plan, the anti-join tier,
        // and the temperature mix (streaming q170/q172 excluded like the
        // rest of the streaming tier — their returned frame reads a
        // memory sink, not the streaming plan)
        "q168_big_customer_orders", "q169_salted_plan_exec",
        "q171_quiet_parts", "q173_temperature_mix", "q174_top_supplier",
        // round-9 TPC-H plan shapes: Q13 outer count-of-counts, Q17
        // aggregate-join-back, Q21 semi+anti self-joins, Q11 having-over-
        // global-scalar, Q8 market share
        "q175_order_count_distribution", "q176_small_quantity_revenue",
        "q177_blocking_supplier", "q178_important_parts",
        "q179_market_share",
        // round-9 pipeline ops: PQ codebook join, k-center 1-row rounds,
        // surprisal model join, gram moment joins
        "q180_pq_audit", "q181_kcenter_coreset", "q182_doc_surprisal",
        "q183_gram_audit",
        // round-9 late additions: Q20 nested-aggregate semi chain, the
        // zone-map audit (3-row predicate broadcast), CDC struct-max fold
        "q184_excess_stock_suppliers", "q185_zonemap_audit",
        "q186_cdc_apply",
        // Q19 disjunctive residual, Q2 argmin join-back, assortativity
        // (q187 streaming excluded like the rest of the streaming tier)
        "q188_disjunctive_bands", "q189_cheapest_supplier",
        "q190_degree_assortativity",
        // round-9 TPC-H shapes, second batch: Q4 semi, Q7 trade volume,
        // Q9 profit, Q10 returned items, Q12 conditional counts, Q14
        // promo ratio, Q16 supplier diversity
        "q191_priority_pipeline", "q192_trade_volume", "q193_product_profit",
        "q194_returned_items", "q195_priority_linestatus",
        "q196_promo_revenue", "q197_supplier_diversity",
        // the IVF shard planner (cell joins + 1-row total broadcast) and
        // the |grid|-row context-length cross join (intentional broadcast
        // cross, never a row-by-row cartesian)
        "q200_index_shard_plan", "q201_context_length_plan",
        "q202_join_order_advisor",
        // incremental band probe, salted join (salt replication is an
        // intentional |salts|-row broadcast, never a cartesian), the
        // two-level histogram, and the sampling certificate
        "q203_incremental_near_dup", "q204_salted_join_exec",
        "q205_equi_depth_hist", "q206_sample_estimate_audit",
        "q207_gap_fill_daily",
        // round-10: the executed join orders (1-row stat frames cross as
        // broadcasts) and the range-shard audit (B-row bounds broadcast
        // into an interval nested-loop, never a cartesian)
        "q208_join_order_exec", "q209_range_balanced_shards",
        "q210_merge_upsert", "q212_join_strategy_exec")) {
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian product")
    }
  }

  test("q148: date predicates reach both scans; top-10 is a bounded heap") {
    val p = finalPlan("q148_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT after ORDER BY must be a bounded heap, not a global sort")
    val finalSection = p.split("== Initial Plan ==")(0)
    // both the o_orderdate and l_shipdate cutoffs must be scan-pushed
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(finalSection).isDefined,
      "o_orderdate cutoff must reach the orders scan")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(finalSection).isDefined,
      "l_shipdate cutoff must reach the lineitem scan")
  }

  test("q149: the 25-row nation totals broadcast, never shuffle-join") {
    val p = finalPlan("q149_above_nation_avg")
    assert(p.contains("BroadcastHashJoin"), "nation frames must broadcast")
  }

  test("dashboard joins: the dim side broadcasts over the cached fact") {
    // (the fact ASSEMBLY joins are invisible here by design: the warehouse
    // stores each table behind a checkpointed RDD scan — what executes per
    // dashboard query is the fact⋈dim join below). The INITIAL plan must
    // broadcast too: it is planned from the stored tables' statistics, and
    // a table that reported none would be planned as a sort-merge join that
    // shuffles the fact on its key before AQE could turn it into a broadcast.
    for ((q, key) <- Seq(
        "q29_dash_trend" -> "Date_Key",
        "q30_dash_top_categories" -> "Merchant_Key",
        "q31_dash_age_groups" -> "Customer_Key",
        "q33_sql_dash_top_categories" -> "Merchant_Key",
        "q34_sql_dash_trend" -> "Date_Key",
        "q35_sql_dash_age_groups" -> "Customer_Key")) {
      val p = finalPlan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q dim side must broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q must not shuffle-join a small dim")
      val initial = p.split("== Initial Plan ==")(1)
      assert(initial.contains("BroadcastHashJoin"), s"$q must plan the broadcast up front:\n$p")
      assert(!initial.contains(s"Exchange hashpartitioning($key"),
        s"$q must not shuffle the fact on $key:\n$p")
    }
  }

  test("per-key top-k queries plan a bounded WindowGroupLimit") {
    for (q <- Seq("q86_tfidf_terms", "q45_ann_brute", "q160_quota_sample")) {
      val p = finalPlan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q must bound its row_number window with a group limit")
    }
  }

  test("q159 cm sketch: the global top-k is a bounded heap, never a one-partition window") {
    val p = finalPlan("q159_cm_sketch_audit")
    assert(p.contains("TakeOrderedAndProject"), "the top-k must be a bounded heap")
    assert(!p.contains("row_number()"), "the top-k must not rank in a window")
  }

  test("q89 grouping sets: one Expand, one aggregate shuffle, map-side partials") {
    val p = finalPlan("q89_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must expand map-side, not union scans")
    assert(!p.contains("Union"), "must be one pass over the fact, not unioned scans")
    // executedPlan.toString prints final AND initial adaptive plans —
    // count shuffles only in the final section
    val finalSection = p.split("== Initial Plan ==")(0)
    val aggExchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(aggExchanges == 1,
      s"three slices must share ONE aggregate shuffle, found $aggExchanges:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "partial aggregation must run before the exchange")
  }

  test("q57 bm25: the 1-row stats frame broadcasts; top-k is a bounded heap") {
    val p = finalPlan("q57_bm25_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "stats side must broadcast, not shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be a bounded heap")
    assert(p.contains("*(") || p.contains("WholeStageCodegen"),
      "the scoring pass must retain whole-stage codegen spans")
  }

  test("q153 skew plan: one map-side-combined aggregate, no extra shuffle") {
    val p = finalPlan("q153_skew_plan")
    val finalSection = p.split("== Initial Plan ==")(0)
    val aggExchanges = "Exchange".r.findAllIn(finalSection).size
    assert(aggExchanges <= 2, // one for the groupBy, one for the orderBy range
      s"skew plan must cost one aggregate shuffle (plus the output sort), found $aggExchanges:\n$p")
    assert(p.contains("HashAggregate"), "per-key counts must partial-aggregate map-side")
  }

  test("q154 kmv estimate: sketch flags and stats join as broadcasts") {
    val p = finalPlan("q154_kmv_join_estimate")
    assert(p.contains("TakeOrderedAndProject"), "bottom-k must be a bounded heap")
    assert(!p.contains("row_number()"), "bottom-k must not rank in a window")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "k-row sketches and the 1-row stats frame must broadcast")
  }

  test("q168: the having-filtered build side broadcasts at runtime; top-100 is a bounded heap") {
    val p = finalPlan("q168_big_customer_orders")
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT after ORDER BY must be a bounded heap, not a global sort")
    // no broadcast() hint in the query — at this selectivity AQE must
    // convert the shuffle join against the ~200-row aggregate to a
    // runtime broadcast (the data-dependent decision the query leaves to
    // the planner on purpose)
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      "AQE must broadcast the having-filtered aggregate at this scale")
  }

  test("q169: the measured salt plan joins back as a broadcast; partials aggregate map-side") {
    val p = finalPlan("q169_salted_plan_exec")
    assert(p.contains("BroadcastHashJoin"),
      "the per-key salt-factor plan frame must broadcast, never shuffle the fact")
    assert(p.contains("HashAggregate"),
      "the (key, salt) partials must hash-aggregate map-side")
  }

  test("q171: the qualifying-part set broadcasts into the anti join") {
    val p = finalPlan("q171_quiet_parts")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin") &&
      finalSection.contains("LeftAnti"),
      "the distinct qualifying-part keys must broadcast as an anti-join build side")
  }

  test("q175: the order-count distribution keeps the outer join outer") {
    val p = finalPlan("q175_order_count_distribution")
    assert(p.contains("LeftOuter"),
      "the priority filter must live in the join condition, not demote the outer join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q176: the brand dim and the per-part aggregate both broadcast") {
    val p = finalPlan("q176_small_quantity_revenue")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(finalSection).size >= 2,
      "both the filtered part keys and the per-part stats must broadcast")
    assert(!finalSection.contains("SortMergeJoin"),
      "nothing in this plan should shuffle-join")
  }

  test("q177: both self-joins are keyed on l_orderkey with residual conditions") {
    val p = finalPlan("q177_blocking_supplier")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("LeftSemi") && finalSection.contains("LeftAnti"),
      "the EXISTS/NOT-EXISTS pair must plan as semi + anti joins")
    assert(!p.contains("CartesianProduct"),
      "the θ-conditions must ride the l_orderkey equi key, never a cartesian")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be a bounded heap")
  }

  test("q178: the regional supplier set and the 1-row total broadcast") {
    val p = finalPlan("q178_important_parts")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      "the supplier-key semi side must broadcast into the fact")
    assert(finalSection.contains("BroadcastNestedLoopJoin"),
      "the global total is a 1-row broadcast, never a shuffle")
  }

  test("q179: dims broadcast; the fact shuffles only on its equi keys") {
    val p = finalPlan("q179_market_share")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      "supplier-nation and the regional customer set must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q180: the PQ codebook broadcasts; encoding argmin is a bounded WindowGroupLimit") {
    val p = finalPlan("q180_pq_audit")
    assert(p.contains("BroadcastHashJoin"),
      "the O(sqrt n) per-subspace codebook must broadcast into the encode pass")
    assert(p.contains("WindowGroupLimit"),
      "the per-(vector, subspace) argmin must be a bounded group limit")
  }

  test("q182: the unigram model joins on the token key, never a cartesian") {
    val p = finalPlan("q182_doc_surprisal")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"),
      "(doc, token) counts must combine map-side before the model join")
  }

  test("q186: CDC apply folds in one aggregate — no window, no sort before the fold") {
    val p = finalPlan("q186_cdc_apply")
    assert(!p.contains("Window"),
      "last-write-wins must be the struct-max aggregate, not a row_number window")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "the fold must be an aggregate with map-side partials")
  }

  test("q188: the OR bands stay a residual on the hash join, never a nested loop") {
    val p = finalPlan("q188_disjunctive_bands")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      "the part dim must broadcast with the disjunction as a join residual")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the equi key must survive the OR bands")
  }

  test("q189: argmin-per-part is one aggregate — no window over the fact") {
    val p = finalPlan("q189_cheapest_supplier")
    assert(!p.contains("Window"),
      "the per-part minimum must be the struct-min aggregate, not row_number")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      "the regional supplier set must broadcast into the fact")
  }

  test("q191: the date window reaches the orders scan; EXISTS plans as a semi join") {
    val p = finalPlan("q191_priority_pipeline")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("LeftSemi"),
      "EXISTS must plan as a left-semi join, never a full join + distinct")
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(finalSection).isDefined,
      "the quarter window must reach the orders scan")
    assert("PushedFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(finalSection).isDefined,
      "the returnflag filter must reach the lineitem scan")
  }

  test("q192: the pair-filtered nation maps broadcast; one fact shuffle for orders") {
    val p = finalPlan("q192_trade_volume")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(finalSection).size >= 2,
      "the supplier and customer nation maps must broadcast into the fact")
    assert(!p.contains("CartesianProduct"))
  }

  test("q193/q196: the part dim broadcasts into the fact scan pass") {
    for (q <- Seq("q193_product_profit", "q196_promo_revenue")) {
      val p = finalPlan(q)
      val finalSection = p.split("== Initial Plan ==")(0)
      assert(finalSection.contains("BroadcastHashJoin"),
        s"$q: the part columns must broadcast, never shuffle the fact")
      assert(!finalSection.contains("SortMergeJoin"),
        s"$q: no shuffle join for broadcastable dims")
    }
  }

  test("q194: scans pre-filtered, customer joins at aggregate grain, top-20 bounded") {
    val p = finalPlan("q194_returned_items")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be a bounded heap")
    assert("PushedFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(finalSection).isDefined,
      "the returnflag filter must reach the lineitem scan")
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(finalSection).isDefined,
      "the quarter window must reach the orders scan")
  }

  test("q197: the pair DISTINCT collapses before the dim join; anti side broadcasts") {
    val p = finalPlan("q197_supplier_diversity")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("LeftAnti"),
      "NOT IN must plan as an anti join, not a filter subquery per row")
    assert(finalSection.contains("BroadcastHashJoin"),
      "the complaint-supplier keys and the part dim must broadcast")
  }

  test("q198: one scan, one aggregate shuffle, map-side partials, codegen spans") {
    val p = finalPlan("q198_pricing_summary")
    val finalSection = p.split("== Initial Plan ==")(0)
    val aggExchanges = "Exchange".r.findAllIn(finalSection).size
    assert(aggExchanges <= 2, // the groupBy merge + the 4-row output sort
      s"the pricing summary must cost one aggregate shuffle, found $aggExchanges")
    assert(finalSection.contains("HashAggregate"),
      "all eight measures must partial-aggregate map-side")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(finalSection).isDefined,
      "the shipdate cutoff must reach the lineitem scan")
    assert(p.contains("*(") || p.contains("WholeStageCodegen"),
      "the measure expressions must stay inside whole-stage codegen")
  }

  test("q199: the year window is scan-pushed; the residual grid filter doesn't block it") {
    val p = finalPlan("q199_forecast_revenue")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(finalSection).isDefined,
      "the shipdate window must reach the scan even though the grid filter cannot")
    assert(!finalSection.contains("Exchange hashpartitioning"),
      "a global 1-row aggregate needs no hash shuffle")
  }

  test("q200: assignment argmax is a bounded WindowGroupLimit; the total broadcasts") {
    val p = finalPlan("q200_index_shard_plan")
    assert(p.contains("WindowGroupLimit"),
      "the per-vector cell argmax must be a bounded group limit")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the centroid set and the 1-row total must broadcast")
  }

  test("q201: the grid rides a broadcast; the only hash shuffle is the |grid|-key aggregate") {
    val p = finalPlan("q201_context_length_plan")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastNestedLoopJoin"),
      "the |grid|-row frame must broadcast into the scan pass")
    val aggExchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(aggExchanges <= 1,
      s"one |grid|-key aggregate shuffle expected, found $aggExchanges")
    assert(finalSection.contains("HashAggregate"),
      "the pad sums must partial-aggregate map-side")
  }

  test("q203: delta and corpus meet only through (band, bh) hash joins") {
    val p = finalPlan("q203_incremental_near_dup")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !finalSection.contains("BroadcastNestedLoopJoin"),
      "the incremental probe must stay on equi keys — no pairwise scan")
    assert(finalSection.contains("HashAggregate"),
      "partner counts must aggregate with map-side partials")
  }

  test("q205: the fine cumulative window is partitioned by the coarse block") {
    val p = finalPlan("q205_equi_depth_hist")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert("windowspecdefinition\\(coarse".r.findFirstIn(finalSection).isDefined,
      "the per-cent cumulative sum must run under a coarse-block partition key, " +
        "never one global window over the grid")
  }

  test("q204: the dim replicates via a broadcast; the salted join stays an equi hash join") {
    val p = finalPlan("q204_salted_join_exec")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastNestedLoopJoin")
        || finalSection.contains("BroadcastHashJoin"),
      "the |salts|-row replication frame must broadcast into the dim side")
    assert(!p.contains("CartesianProduct"),
      "the (key, salt) join must remain an equi join")
    assert(finalSection.contains("HashAggregate"),
      "the per-supplier rollup must partial-aggregate map-side")
  }

  test("q206: the certificate is scan aggregates only — no join, no window, no extra shuffle") {
    val p = finalPlan("q206_sample_estimate_audit")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(!finalSection.contains("Join") && !finalSection.contains("Window"),
      "estimate + exact + bound must come from ONE aggregation pass")
    assert(!finalSection.contains("Exchange hashpartitioning"),
      "a global 1-row aggregate needs no hash shuffle")
  }

  test("q208: both executed orders join on equi keys; stat frames cross as broadcasts") {
    val p = finalPlan("q208_join_order_exec")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      "the join chains and the 1-row stat crosses must never plan a cartesian")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
        .findFirstIn(finalSection).isDefined,
      "the executed chains must run as hash/merge equi joins")
    assert(finalSection.contains("Union"),
      "best and worst runs must union into one frame")
  }

  test("q209: the measured bounds broadcast into the interval routing join") {
    val p = finalPlan("q209_range_balanced_shards")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastNestedLoopJoin"),
      "the B-row bounds frame must broadcast; each probe row checks <= B intervals")
    assert(!p.contains("CartesianProduct"),
      "interval routing must never degrade to a row-by-row cartesian")
    assert(finalSection.contains("HashAggregate"),
      "the per-bucket audit must partial-aggregate map-side")
  }

  test("q210: the write log folds in one struct-max aggregate — no window sort") {
    val p = finalPlan("q210_merge_upsert")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(!finalSection.contains("Window"),
      "the winning write must come from a map-side-combinable struct-max, " +
        "never a row_number window over the write log")
    assert(finalSection.contains("partial_max(struct("),
      "the per-key fold must combine map-side (partial struct-max before the shuffle)")
    assert(finalSection.contains("FullOuter") || finalSection.contains("full_outer"),
      "target and folded writes must meet in one outer equi-join")
  }

  test("q212: the advised strategies execute as DIFFERENT physical joins") {
    val p = finalPlan("q212_join_strategy_exec")
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.contains("BroadcastHashJoin"),
      "the broadcast-advised dim must execute as a broadcast hash join")
    assert(finalSection.contains("SortMergeJoin"),
      "the shuffle-advised dim must execute as a sort-merge join")
    assert(!p.contains("CartesianProduct"))
  }

  test("a ym filter on the warehouse fact prunes partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("wh-prune").toString
    val w = graft.operators.BankEtl.buildCached(spark, sf)
    graft.operators.WarehouseSink.write(w, out)
    val fact = spark.read.parquet(s"$out/Fact_Spending")
    val total = new java.io.File(s"$out/Fact_Spending").listFiles()
      .count(_.getName.startsWith("ym="))
    assert(total > 1, "need several ym partitions for the test to mean anything")
    val oneYm = fact.select("ym").head().get(0)
    val q = fact.filter(col("ym") === oneYm)
    q.collect()
    val selected = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }.sum
    assert(selected == 1,
      s"scan must read 1 of $total partitions, read $selected")
  }
}
