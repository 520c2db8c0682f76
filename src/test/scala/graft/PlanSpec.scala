package graft

/** Plan-shape regression tests: the properties that make these queries
  * survive a 100× scale-up, pinned so a refactor can't silently lose
  * them. String-matching executedPlan is crude but catches the big
  * regressions (lost pushdown, lost broadcast, lost partial agg). */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    Queries.all(q)(spark, dir).queryExecution.executedPlan.toString

  test("q01: watermark predicate reaches the parquet footer (custom rule)") {
    val p = plan("q01_incremental_watermark")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"), p)
  }

  test("q04: filter and projection push into the scan") {
    val p = plan("q04_projection_filter")
    assert(p.contains("GreaterThan(l_quantity,30.0)"), p)
    assert(p.contains(
      "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"), p)
  }

  test("q10: aggregation is partial (map-side combine) with pruned scan") {
    val p = plan("q10_pricing_summary")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), p) // unused columns pruned
  }

  test("q11/q12: dimension joins broadcast; fact side never exchanges " +
    "before the join") {
    val p11 = plan("q11_join_broadcast")
    assert(p11.contains("BroadcastHashJoin"), p11)
    val p12 = plan("q12_join_multiway")
    assert(p12.split("BroadcastHashJoin").length === 4, p12) // 3 joins
    assert(!p12.contains("SortMergeJoin"), p12)
  }

  test("q91: chunking is map-only — no hash exchange anywhere (the " +
    "only shuffle is the presentation sort's range partitioning)") {
    val p = plan("q91_chunking")
    assert(!p.contains("hashpartitioning"), p)
  }

  test("q92: sequence packing shuffles ONCE (the per-language window); " +
    "token counting stays in the map phase") {
    val p = plan("q92_sequence_pack")
    assert(p.split("Exchange hashpartitioning").length === 2, p)
  }

  test("q100: incremental merge keeps partial aggregation on both the " +
    "partial-state and merge levels") {
    val p = plan("q100_incremental_agg")
    assert(p.contains("partial_sum"), p)
  }

  test("q102: the as-of self-join stays the one-sort union plan — " +
    "no nested-loop/cartesian from the time condition") {
    val p = plan("q102_last_touch")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q103: the item-support dimension joins broadcast; no " +
    "self-join of lineitem anywhere") {
    val p = plan("q103_association_rules")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q27: exact dedup is one hash aggregate, no window/sort shuffle") {
    val p = plan("q27_dedup_exact")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
  }

  test("q38: LSH candidate join is an equi-join (no nested-loop blowup)") {
    val p = plan("q38_knn_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q31: candidate generation never joins on the low-cardinality " +
    "source key") {
    val p = plan("q31_ngram_jaccard")
    // the LSH pair generator joins on (band, bucket); a join keyed on
    // `source` is the skewed shuffle that degenerates at 100×
    assert(!p.contains("[source"), p)
    assert(p.contains("band"), p)
  }

  test("q55: correlated scalar subquery is rewritten to aggregate+join " +
    "(no per-row subquery, no nested loop)") {
    val p = plan("q55_correlated_subquery")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_avg"), p) // the decorrelated aggregate
  }

  test("q54/q61: SQL joins never degrade to cartesian products") {
    val p54 = plan("q54_sql_tpch_q5")
    assert(!p54.contains("CartesianProduct"), p54)
    assert(!p54.contains("BroadcastNestedLoopJoin"), p54)
    val p61 = plan("q61_not_in_subquery")
    assert(!p61.contains("CartesianProduct"), p61)
  }

  test("q54: the dimension sides (supplier/nation/region and customer) " +
    "broadcast — losing these to SortMergeJoin is the 2-3x regression " +
    "mode for a star join") {
    val p = plan("q54_sql_tpch_q5")
    // 5 joins over 6 tables; at least 4 must be broadcast-hash (the
    // only shuffle join tolerated is orders JOIN lineitem, the two
    // fact tables)
    assert(p.split("BroadcastHashJoin").length - 1 >= 4, p)
    assert(p.split("SortMergeJoin").length - 1 <= 1, p)
  }

  test("q56: explicit pivot values plan as ONE aggregate over one scan " +
    "(no distinct-scan of the pivot column)") {
    val p = plan("q56_pivot")
    assert(p.split("Scan parquet").length === 2, p) // exactly one scan
    assert(p.contains("partial_count"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q74: GROUPING SETS plans as ONE Expand over ONE scan (no " +
    "per-set rescans, no union of aggregates)") {
    val p = plan("q74_grouping_sets")
    assert(p.contains("Expand"), p)
    assert(p.split("Scan parquet").length === 2, p) // exactly one scan
    assert(p.contains("partial_count"), p)
  }

  test("q57: unpivot plans as Expand over the aggregate (no join, no " +
    "repeated scan)") {
    val p = plan("q57_unpivot")
    assert(p.contains("Expand"), p)
    assert(p.split("Scan parquet").length === 2, p) // one lineitem scan
    assert(!p.contains("Join"), p)
  }

  test("q50: the three quantiles share ONE percentile buffer (array " +
    "form) — scalar calls would sort-buffer every group three times") {
    val p = plan("q50_percentiles")
    assert(p.split("percentile").length - 1 <= 2, p) // partial + final
    assert(p.contains("partial_percentile"), p)
  }

  test("q65: benchmark shingles BROADCAST to the corpus side (the " +
    "corpus never shuffles its text for a decontamination probe)") {
    val p = plan("q65_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q68: the budget sampler's big window partitions on the hash " +
    "BUCKET (bounded tasks), never on the group alone") {
    val p = plan("q68_token_budget_sample")
    // phase-1 window must include _bucket in its partition spec; the
    // naive shape (whole language in one window task) would not
    assert(p.contains("_bucket"), p)
    // the offsets table joins back via broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q78: triangle counting never degrades to a cartesian in either " +
    "degree-join mode (broadcast or shuffle)") {
    val p = plan("q78_triangles")
    assert(!p.contains("CartesianProduct"), p)
    // exactly ONE nested-loop join: the 1-row × 1-row scalar combine
    // (n_edges × n_triangles) — never on the edge/wedge sides.
    // The degree joins carry NO broadcast hint (a hint would force a
    // |V|-row driver collect at any graph size); whether they resolve
    // to BroadcastHashJoin (small graphs, threshold/AQE) or a shuffle
    // join (100 TB graphs) both shapes are equi-joins — cartesian-free
    // is the invariant, the join mode is Spark's choice
    assert(p.split("BroadcastNestedLoopJoin").length - 1 === 1, p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q69: document frequency rides a window over tf — ONE text scan " +
    "(a df self-join would scan and tokenize the corpus twice)") {
    val p = plan("q69_tfidf_top_terms")
    // two scans total: the text scan + the metadata-only count(*) scan
    assert(p.split("Scan parquet").length - 1 <= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q72: BM25 scans the text column ONCE; stats/tf/df consumers " +
    "read the persisted post-aggregate frame") {
    val q = Queries.all("q72_bm25")(spark, dir)
    q.collect() // materialize so AQE finalizes stage reuse
    val p = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.split("Scan parquet").length - 1 === 1, p)
  }

  test("q59: lead+lag share ONE window sort (single exchange on user_id)") {
    val p = plan("q59_lead_lag")
    assert(p.split("Window").length === 2, p) // one Window node for both
    assert(p.split("Exchange").length <= 3, p) // window + output sort only
  }

  test("q113: explicit-list pivot is ONE aggregate over ONE scan — no " +
    "distinct-collect pre-job, no join") {
    val p = plan("q113_pivot")
    assert(p.split("Scan parquet").length - 1 === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q114: unpivot is ONE Expand over the 5-row aggregate, not a " +
    "union of re-aggregations") {
    val p = plan("q114_unpivot")
    assert(p.split("Scan parquet").length - 1 === 1, p)
    assert(p.contains("Expand"), p)
    assert(!p.contains("Union"), p)
  }

  test("q115: skyline pre-collapses with a partial max before the " +
    "global frontier window") {
    val p = plan("q115_skyline")
    assert(p.contains("partial_max"), p)
  }

  test("q118: correlation moments are all partial (map-side combine), " +
    "one scan, no join") {
    val p = plan("q118_corr_moments")
    assert(p.contains("partial_sum"), p)
    assert(p.split("Scan parquet").length - 1 === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q120: blocked fuzzy match joins on the blocking key — " +
    "never a cartesian/nested-loop over names") {
    val p = plan("q120_fuzzy_match")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q122: novelty's first-occurrence attribution is a shingle " +
    "equi-join (no doc-to-doc pairing)") {
    val p = plan("q122_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q125: all five sequence-window functions share ONE window node " +
    "(one exchange + sort on user_id)") {
    val p = plan("q125_next_event_pairs")
    assert(p.split("Window").length === 2, p)
  }

  test("q127: four grains ride ONE Expand over ONE scan") {
    val p = plan("q127_multi_grain_distinct")
    assert(p.split("Scan parquet").length - 1 === 1, p)
    assert(p.contains("Expand"), p)
  }

  test("q128: interval merge is window-only — no interval self-join") {
    val p = plan("q128_interval_merge")
    assert(!p.contains("Join"), p)
  }

  test("q129: region share is a partition window over the aggregate — " +
    "orders scans once, no second aggregate pass") {
    val p = plan("q129_revenue_share")
    assert(p.split("Scan parquet").length - 1 === 3, p) // orders+customer+nation
    assert(p.contains("Window"), p)
  }

  test("q135: JSON parses once per row (single from_json, not a " +
    "per-field get_json_object re-parse) with partial aggregation") {
    val p = plan("q135_json_extract")
    assert(p.split("from_json").length - 1 <= 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q138: weighted median collapses per-value weight with a " +
    "partial sum BEFORE the window") {
    val p = plan("q138_weighted_median")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("Window"), p)
  }

  test("q140: the temporal join is an equi-join on custkey (interval " +
    "predicate as post-join filter, never a range nested-loop)") {
    val p = plan("q140_temporal_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q131: assortativity's moment aggregate is map-side partial " +
    "and every join is an equi-join") {
    val p = plan("q131_assortativity")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q160: the correlated scalar subquery decorrelates to an " +
    "equi-join (no per-row nested loop)") {
    val p = plan("q160_correlated_subquery")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q166: the grouped-HAVING key set semi-joins (no re-aggregation " +
    "join) and the top-100 is TakeOrderedAndProject") {
    val p = plan("q166_tpch_q18")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q167: the correlated EXISTS decorrelates to a semi join and " +
    "the NOT EXISTS to an anti join, both equi-keyed on the order — " +
    "no per-row nested loop") {
    val p = plan("q167_tpch_q21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q168: EXISTS correlated through the outer date decorrelates " +
    "to a semi join with the residual in the condition — no nested loop") {
    val p = plan("q168_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q169: the zero-preserving outer join keeps its predicate in " +
    "the JOIN condition (a WHERE would drop c_count=0 customers)") {
    val p = plan("q169_tpch_q13")
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q176: the disjunctive cross-side predicate CNF-decomposes — " +
    "each scan receives its own side's OR-of-ranges as a pushed " +
    "filter, the cross-side residual rides the broadcast join") {
    val p = plan("q176_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p)
    // lineitem scan: quantity-range union pushed to parquet
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"), p)
    // part scan: brand/size union pushed to parquet
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q155/q156: TPC-H top-k is TakeOrderedAndProject (never a " +
    "global sort materialization) with broadcast dimensions") {
    val p3 = plan("q155_tpch_q3")
    assert(p3.contains("TakeOrderedAndProject"), p3)
    assert(p3.contains("BroadcastHashJoin"), p3)
    val p10 = plan("q156_tpch_q10")
    assert(p10.contains("TakeOrderedAndProject"), p10)
    assert(!p10.contains("CartesianProduct"), p10)
  }

  test("q181: link-prediction pairs form per shared neighbor (equi-" +
    "join, no cartesian/nested loop) and the top-100 cut is " +
    "TakeOrderedAndProject") {
    val p = plan("q181_link_predict")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q187: the scalar max and the winner set broadcast back (two " +
    "BroadcastHashJoins); revenue aggregation is map-side partial") {
    val p = plan("q187_tpch_q15")
    assert(p.split("BroadcastHashJoin").length >= 3, p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q188: interpolation windows run on the calendar-bounded " +
    "scaffold — the heavy orders aggregate is map-side partial and " +
    "the prev/next passes share one (prio,d) sort order") {
    val p = plan("q188_interpolate")
    assert(p.contains("partial_sum"), p)
    // both window frames declare the same partitioning/ordering
    assert(p.split("Window").length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q189: typo-match candidates come from the blocking equi-join " +
    "(never a nested loop) and the DL verify is codegen'd (no " +
    "CodegenFallback boxing in the filter)") {
    val p = plan("q189_typo_match")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("damerau_levenshtein"), p)
    val df = Queries.all("q189_typo_match")(spark, dir)
    df.collect() // finalize AQE so WholeStageCodegen subtrees exist
    val codegen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(codegen.contains("DamerauLevenshtein.compute"), codegen.take(2000))
  }

  test("q191: the Q2 min-cost rejoin stays an equi-join (no nested " +
    "loop) and the supplier/nation/region dimension chain broadcasts") {
    val p = plan("q191_tpch_q2")
    assert(p.split("BroadcastHashJoin").length >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q192: Q9 profit aggregation is map-side partial; part filter " +
    "and both dimension joins broadcast ahead of the fact join") {
    val p = plan("q192_tpch_q9")
    assert(p.contains("partial_sum"), p)
    assert(p.split("BroadcastHashJoin").length >= 3, p)
  }

  test("q195: Q16 complaint-supplier exclusion is a broadcast anti " +
    "join; count(DISTINCT) expands to the two-phase partial aggregate") {
    val p = plan("q195_tpch_q16")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count(distinct"), p)
  }

  test("q198: the train shingle set broadcasts onto the eval stream " +
    "(no shuffle of the probe side before the contamination join)") {
    val p = plan("q198_split_leakage")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q199/q200: the anchor/corpus side broadcasts; ranking is a " +
    "keyed window, never a global sort of the scored stream") {
    val p199 = plan("q199_hard_negatives")
    assert(p199.contains("BroadcastNestedLoopJoin") ||
      p199.contains("BroadcastHashJoin"), p199)
    val p200 = plan("q200_label_noise")
    assert(!p200.contains("Exchange SinglePartition, " +
      "ENSURE_REQUIREMENTS"), p200)
  }

  test("q201: the rate dim broadcasts onto the doc scan (map-only " +
    "hash filter — the corpus never shuffles) and the only sort is " +
    "the 20-row report's") {
    val p = plan("q201_mixture_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q197: Q20's per-supplier and per-part aggregates share one " +
    "shuffle (the second groups the first's key prefix) and the " +
    "dominance join is equi, never a nested loop") {
    val p = plan("q197_tpch_q20")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q212/q213: the CDF-family prefix sums window over " +
    "RANGE-BUCKETED partitions (globalCumSum phase 1) — the " +
    "data-sized window is hashpartitioned on _bucket; only the " +
    "≤buckets-row bucket-totals window is SinglePartition. (q224 left " +
    "this family in r17: its per-value frame is one row per distinct " +
    "lifetime DAY — calendar-bounded — so it runs the allowlisted " +
    "bounded-domain global window instead, see the registry-wide " +
    "window lint below.)") {
    for (q <- Seq("q212_roc_auc", "q213_spearman",
        "q235_ks_test", "q236_mann_whitney")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning(_bucket"), s"$q:\n$p")
      // every distinct-key aggregate feeding the CDF combines map-side
      assert(p.contains("partial_"), s"$q:\n$p")
    }
  }

  test("q264: neighborhood-Jaccard top-100 is TakeOrderedAndProject " +
    "(never a global sort) and pairs form per shared neighbor — no " +
    "cartesian anywhere") {
    val p = plan("q264_neighborhood_jaccard")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q269: the TV-distance pair mass comes from ONE token equi-join " +
    "with broadcast totals — counts combine map-side; the only " +
    "nested-loop is the SOURCES² pair frame (bounded totals, " +
    "broadcast), never a row-level cross") {
    val p = plan("q269_tv_distance")
    assert(p.contains("BroadcastHashJoin"), p)
    // the full pair matrix is a cross of the per-source TOTALS — a
    // frame with one row per source. Exactly one BNLJ, and BOTH its
    // inputs must be aggregates (inspected on the actual plan tree, not
    // the string — a row-scale cross elsewhere would otherwise pass as
    // long as it were the only BNLJ). AQE off for the check:
    // AdaptiveSparkPlanExec is a leaf to collect().
    assert(p.split("BroadcastNestedLoopJoin").length == 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Queries.all("q269_tv_distance")(spark, dir)
        .queryExecution.executedPlan
      val bnljs = exec.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bnljs.size === 1, exec.toString)
      def hasAgg(s: org.apache.spark.sql.execution.SparkPlan): Boolean =
        s.find(_.isInstanceOf[
          org.apache.spark.sql.execution.aggregate.BaseAggregateExec]).nonEmpty
      assert(bnljs.forall(j => hasAgg(j.left) && hasAgg(j.right)),
        exec.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q296/q300: calibration + tuning-curve candidate joins are " +
    "equi (bucket/shingle keys) — no row-scale cartesian; the only " +
    "nested loops are 1-row scalar combines") {
    val p296 = plan("q296_minhash_calibration")
    assert(!p296.contains("CartesianProduct"), p296)
    assert(!p296.contains("BroadcastNestedLoopJoin"), p296)
    val p300 = plan("q300_lsh_tuning_curve")
    assert(!p300.contains("CartesianProduct"), p300)
    // per config, ONE count×high-sim scalar combine (1-row × 1-row)
    assert(p300.split("BroadcastNestedLoopJoin").length - 1 === 3, p300)
  }

  test("q297: packing report keeps partial aggregation above the " +
    "per-language offset window; no nested loop anywhere") {
    val p = plan("q297_packing_efficiency")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("hashpartitioning(lang"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q298: nDCG windows partition by source (never one task) and " +
    "the fixed-point sums combine map-side") {
    val p = plan("q298_ndcg_quality")
    assert(p.contains("hashpartitioning(source"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q299: alpha is aggregates + 1-row broadcast combines — " +
    "map-side partials, no data-scale join") {
    val p = plan("q299_krippendorff_alpha")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the two scalar combines (s12×de, ×n) are 1-row nested loops
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 2, p)
  }

  test("q293: the fused pq_adc scorer runs INSIDE whole-stage codegen " +
    "(the '*(n)' marker on its Project) — a CodegenFallback regression " +
    "would silently lose the ADC fusion win. AQE off for the check: " +
    "the adaptive pre-execution printout carries no codegen markers") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q293_pq_adc_search")
      val adcLines = p.linesIterator.filter(_.contains("pq_adc")).toSeq
      assert(adcLines.nonEmpty, p)
      val opLines = adcLines.filter(_.contains("Project"))
      assert(opLines.nonEmpty, adcLines.mkString("\n"))
      assert(opLines.forall(_.contains("*(")), adcLines.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q301: fuzzy decontamination probes the banded index — equi " +
    "joins only, no corpus×benchmark cross, argmax window partitioned " +
    "by corpus doc") {
    val p = plan("q301_fuzzy_decontamination")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(corpus_id"), p)
  }

  test("q302/q303: burstiness top-20 is TakeOrderedAndProject over a " +
    "partial aggregate; the leakage matrix carries source labels on " +
    "the banded rows — ONE equi self-join on (band,bucket), no " +
    "broadcast of a corpus-sized map, no cartesian, no nested loop") {
    val p302 = plan("q302_token_burstiness")
    assert(p302.contains("TakeOrderedAndProject"), p302)
    assert(p302.contains("partial_count"), p302)
    assert(!p302.contains("CartesianProduct"), p302)
    // the r9 shape HINT-forced a broadcast of the (doc → source) map
    // onto the pairs — corpus-sized at scale (ADVICE r9 medium). The
    // fixed shape has zero hints (a BroadcastHashJoin may still appear
    // at toy scale from size STATS — that's Catalyst's call and flips
    // to SMJ when stats grow; the hint would have forced it at any
    // size) and its only join is the collision-bound (band, bucket)
    // self-join, labels riding the banded rows.
    val q303 = Queries.all("q303_cross_source_dups")(spark, dir)
    assert(!q303.queryExecution.analyzed.toString.contains("ResolvedHint"),
      q303.queryExecution.analyzed.toString)
    val p303 = q303.queryExecution.executedPlan.toString
    assert(p303.contains("Join [band"), p303)
    assert(!p303.contains("CartesianProduct"), p303)
    assert(!p303.contains("BroadcastNestedLoopJoin"), p303)
  }

  test("q295: the ADC cell join broadcasts the QUERY batch — the " +
    "encoded corpus never hash-partitions by cell (a hot cell splits " +
    "by file, not into one shuffle partition), and the shortlist " +
    "window pre-limits map-side (partial WindowGroupLimit)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q295_ivf_pq_search")
      assert(!p.contains("hashpartitioning(cell"), p)
      assert(p.contains("BroadcastHashJoin [cell"), p)
      assert(p.contains("WindowGroupLimit") &&
        p.contains("row_number(), 50, Partial"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q305/q306: survivor maintenance and the pipeline capstone " +
    "stay equi-join-only (no cartesian, no nested loop); the capstone's " +
    "packing window partitions by lang") {
    val p305 = plan("q305_incremental_survivors")
    assert(!p305.contains("CartesianProduct"), p305)
    assert(!p305.contains("BroadcastNestedLoopJoin"), p305)
    val p306 = plan("q306_incremental_pipeline")
    assert(!p306.contains("CartesianProduct"), p306)
    assert(!p306.contains("BroadcastNestedLoopJoin"), p306)
    assert(p306.contains("hashpartitioning(lang"), p306)
  }

  test("q314/q315/q316: the cluster-consuming queries (takedown " +
    "expansion, delete repair, cluster-cap sampling) stay " +
    "equi-join-only with zero hints — semi-joins against " +
    "request-bounded lists and component-partitioned windows let " +
    "size stats/AQE pick the strategy (the q303 lesson: never hint " +
    "a corpus-scale side)") {
    for (name <- Seq("q314_takedown_expansion", "q315_delete_repair",
        "q316_cluster_cap_sample")) {
      val q = Queries.all(name)(spark, dir)
      assert(!q.queryExecution.analyzed.toString.contains("ResolvedHint"),
        q.queryExecution.analyzed.toString)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("q272: grid-density labels propagate on the model-sized CELL " +
    "frame — the only data-scale work is the first per-order " +
    "aggregate (map-side combined)") {
    val p = plan("q272_grid_density")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q273: sequence-pattern self-join is user-keyed equi (bounded " +
    "5×5 fan-out per user) — never a nested loop; first-occurrence " +
    "mins combine map-side") {
    val p = plan("q273_sequence_patterns")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q267: the bin model and global-rate fallback BROADCAST onto " +
    "the eval scan — the event stream never shuffles for the join") {
    val p = plan("q267_brier_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("registry-wide: no partition-less Window over an unbounded " +
    "input (the one-task plan that does not finish at 100×)") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LogicalPlan, Window => LWindow}
    // A partition-less Window is tolerable ONLY when its input is
    // bounded by construction:
    //  (a) a Limit beneath it (top-k survivor sets, ≤k rows);
    //  (b) an Aggregate beneath it whose grouping keys span a bounded
    //      DOMAIN, not a data-scale key space. (b) can't be decided
    //      structurally, so those queries are allowlisted BY NAME with
    //      the bounding argument in their scaladoc; adding a query
    //      here requires that audit. The scale-safe primitives'
    //      internal windows (Ranking.globalCumSum / leadKey bucket
    //      offsets — ≤`buckets` rows by construction) are recognized
    //      structurally via their `_bucket`/`_lk_b` grouping keys.
    // Audited 2026-08 (round 8): every entry's window input is a
    // VALUE-DOMAIN aggregate whose cardinality is fixed by the domain,
    // not the data volume — calendar days (q107 q158 q205 q238 q243
    // q244 q246 q247 q251 q266 q292; day-PAIR Walsh/slope sets q262
    // q263 are calendar²), fixed equi-width bin grids (q206 q215 q226
    // q228), constant replicate/decile/digit/cell domains (q229 q234
    // q218 q151 q245), and the fixed TPC-H retail-price domain (q115).
    // q253's running rank-sum / day index windows run over the joined
    // one-row-per-DAY frame — calendar domain (surfaced when the
    // primitive-internal exemption was tightened in round 8).
    // q224 (audited r17): the Nelson–Aalen cumulative passes window
    // over the per-LIFETIME-DAY aggregate — one row per distinct
    // datediff(last, first) day value, bounded by the calendar span
    // like q251's daily frame, never by row volume (the scaladoc at
    // the query carries the argument; the range-bucketed globalCumSum
    // it replaced was pure fixed cost over the model-sized frame).
    val boundedDomainAllowlist: Set[String] = Set(
      "q253_pettitt", "q224_cumulative_hazard",
      "q107_anomaly_days", "q115_skyline", "q151_benford",
      "q158_wow_report", "q205_cusum_changepoint",
      "q206_isotonic_calibration", "q215_gini_stump",
      "q218_vocab_growth", "q226_pr_curve", "q228_average_precision",
      "q229_resample_stability", "q234_lorenz_curve", "q238_acf",
      "q243_ljung_box", "q244_cross_corr", "q245_cramers_v",
      "q246_mase", "q247_pacf", "q251_max_drawdown", "q262_theil_sen",
      "q263_hodges_lehmann", "q266_ts_decomposition",
      "q292_durbin_watson")
    def boundedByConstruction(w: LWindow): Boolean = {
      val limited =
        w.child.collectFirst { case _: GlobalLimit => () }.nonEmpty
      // the primitive-internal exemption must look only THROUGH
      // stacked unary nodes at the window's DIRECT input: a bucket
      // aggregate anywhere deeper in the tree (i.e. a query merely
      // BUILT ON globalCumSum output) must not exempt a data-scale
      // window above the join — that hole hid q285's global lead
      // until round 8
      @scala.annotation.tailrec
      def direct(p: LogicalPlan): LogicalPlan = p match {
        case u: org.apache.spark.sql.catalyst.plans.logical.Project =>
          direct(u.child)
        case u: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          direct(u.child)
        case other => other
      }
      val primitiveInternal = direct(w.child) match {
        case a: Aggregate => a.groupingExpressions.exists(
          _.references.exists(r =>
            r.name == "_bucket" || r.name == "_lk_b"))
        case _ => false
      }
      limited || primitiveInternal
    }
    val offending = TestSession.registry(dir).toSeq.flatMap { case (name, df) =>
      if (boundedDomainAllowlist(name)) None
      else {
        val plan: LogicalPlan = df.queryExecution.optimizedPlan
        val bad = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
            !boundedByConstruction(w) => w
        }
        if (bad.nonEmpty) Some(name) else None
      }
    }
    assert(offending.isEmpty,
      s"partition-less Window over unbounded input: ${offending.mkString(", ")}")
  }

  test("q309/q310/q311: corpus-hygiene reports keep corpus-scale " +
    "sides hint-free and equi-joined — the boilerplate set joins " +
    "back on (source, gram) with no forced broadcast (AQE's call by " +
    "size stats), the LM joins are model-sized LEFT equi-joins with " +
    "the single 1-row vocab combine as the only nested loop, and the " +
    "fertility encoder runs per distinct word with map-side partials") {
    val q309 = Queries.all("q309_boilerplate_ngrams")(spark, dir)
    assert(!q309.queryExecution.analyzed.toString.contains("ResolvedHint"),
      q309.queryExecution.analyzed.toString)
    val p309 = q309.queryExecution.executedPlan.toString
    assert(!p309.contains("CartesianProduct"), p309)
    assert(!p309.contains("BroadcastNestedLoopJoin"), p309)
    val p310 = plan("q310_perplexity_gate")
    assert(!p310.contains("CartesianProduct"), p310)
    assert(p310.split("BroadcastNestedLoopJoin").length - 1 <= 1, p310)
    assert(p310.contains("hashpartitioning(lang"), p310) // tercile window
    val p311 = plan("q311_tokenizer_fertility")
    assert(!p311.contains("CartesianProduct"), p311)
    assert(!p311.contains("BroadcastNestedLoopJoin"), p311)
    assert(p311.contains("partial_sum") || p311.contains("partial_count"),
      p311)
  }

  test("stored SimHash probe (r14): the index scan carries the bpart " +
    "PARTITION filter (untouched directories pruned at planning, the " +
    "probe's whole scale story) and the verify join stays equi-join " +
    "(band, bandval) — no cartesian, no nested loop") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 20 =!= 7)
    val batch = docs.filter(col("doc_id") % 20 === 7)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_plan_simhash").toString
    graft.operators.Dedup.writeSimhashIndex(corpus, idx, "text",
      "doc_id")
    val probe = graft.operators.Dedup.incrementalSimhashStored(spark,
      idx, batch, "text", "doc_id")
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [bpart"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // no hints: size stats/AQE pick broadcast vs SMJ (the q303 lesson)
    assert(!probe.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("no operator reads a spark.graft.* setting: the graph and CC " +
    "size gates compare measured counts with Spark's own broadcast " +
    "threshold or a constant") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/operators")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val reads = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("spark.graft.")
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("\n"))
  }

  test("the only mains are Bench, Verify and BenchDiag: a measurement " +
    "belongs in a test or in the diagnostic run, not a new entry point") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val allowed = Set("Bench.scala", "Verify.scala", "BenchDiag.scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val mains = for {
      f <- files if !allowed(f.getFileName.toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("def main(")
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(mains.isEmpty, mains.mkString("\n"))
  }

  test("the touched-partition read of a stored index is written once: " +
    "only IndexCompact asks whether a store still has partition " +
    "directories") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val sites = for {
      f <- files if f.getFileName.toString != "IndexCompact.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("hasPartDirs(")
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(sites.isEmpty, sites.mkString("\n"))
  }

  test("one checkpoint primitive: localCheckpoint( appears once, in " +
    "Checkpoint.scala, and no frame drops its size (withoutInheritedStats)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    def sites(token: String) = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      _ <- 1 until line.split(java.util.regex.Pattern.quote(token), -1).length
    } yield (f.getFileName.toString,
      s"${root.relativize(f)}:${i + 1}: ${line.trim}")
    val cps = sites("localCheckpoint(")
    assert(cps.map(_._1) == Seq("Checkpoint.scala"),
      cps.map(_._2).mkString("\n"))
    val drops = sites("withoutInheritedStats")
    assert(drops.isEmpty, drops.map(_._2).mkString("\n"))
  }

  test("the seeded quantized-Lloyd trainer is written once: lloydStep( " +
    "appears only at its definition and in the one trainer") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val sites = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      _ <- 1 until line.split("lloydStep\\(", -1).length
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(sites.size <= 2, sites.mkString("\n"))
  }

  test("Queries.scala writes each shared frame once: no normalized " +
    "4-line code window occurs 3 or more times") {
    import scala.jdk.CollectionConverters._
    val f = java.nio.file.Paths.get("src/main/scala/graft/Queries.scala")
    assert(java.nio.file.Files.isRegularFile(f), f.toAbsolutePath)
    // (code, line number): trimmed with whitespace runs collapsed, blank
    // and comment lines dropped, trailing // comments stripped
    val code = java.nio.file.Files.readAllLines(f).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (l.trim.replaceAll("\\s+", " "), i + 1) }
      .filterNot { case (l, _) =>
        l.isEmpty || Seq("//", "*", "/*").exists(l.startsWith) }
      .map { case (l, i) => (l.replaceAll("\\s+//.*$", ""), i) }
    assert(code.size > 1000, code.size)
    val repeated = code.sliding(4).toSeq.groupBy(_.map(_._1))
      .filter(_._2.size >= 3).toSeq.sortBy(_._2.head.head._2)
    assert(repeated.isEmpty, repeated.map { case (w, at) =>
      s"lines ${at.map(_.head._2).mkString(", ")}:\n  " +
        w.mkString("\n  ") }.mkString("\n"))
  }

  test("an ingestion step is one observed write: operators/Ingestion.scala " +
    "holds no persist(, cache() or .isEmpty, so no step caches its " +
    "increment or probes it for emptiness") {
    import scala.jdk.CollectionConverters._
    val f = java.nio.file.Paths.get(
      "src/main/scala/graft/operators/Ingestion.scala")
    assert(java.nio.file.Files.isRegularFile(f), f.toAbsolutePath)
    val sites = for {
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if Seq("persist(", "cache()", ".isEmpty").exists(line.contains)
    } yield s"Ingestion.scala:${i + 1}: ${line.trim}"
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
