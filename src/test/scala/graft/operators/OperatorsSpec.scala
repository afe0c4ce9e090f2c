package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

import graft.SparkSpec
import graft.SparkEntry

/** Cross-cutting checks over the whole query inventory at sf0.001: every
  * declared query must analyze, execute, and keep its scale-discipline
  * plan invariants. */
class OperatorsSpec extends SparkSpec {

  test("every SparkEntry query executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"query $name failed to execute")
    }
  }

  test("queries with guaranteed-nonempty results return rows at sf0.001") {
    val stable = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q10_returned_items", "join_broadcast_brand_revenue",
      "join_semi_customers_with_orders", "join_outer_nation_customers",
      "agg_distinct_orders", "agg_rollup_region_nation",
      "agg_cube_status_priority", "topk_orders", "setops_nations",
      "mr_map1_char_classes", "mr_map2_letter_histogram",
      "mr_map3_keyword_gen", "mr_wordcount",
      "win_rank_top3_orders_per_cust", "win_ntile_customers",
      "win_moving_sum_supplier", "fn_string", "fn_math", "fn_array",
      "fn_date", "fn_json", "evt_tumbling_hourly", "evt_sessionize",
      "dedup_exact", "dedup_simhash", "ta_lang_id", "ta_quality_stats",
      "ta_token_stats", "ta_fingerprint", "sim_topk_exact",
      "sim_topk_bucketed", "mm_media_stats",
      // round 3: global aggregates always return one row; the others are
      // structurally nonempty at every sf
      "q6_revenue_forecast", "q13_customer_distribution", "q14_promo_effect",
      "q15_top_supplier", "q17_small_qty_revenue", "q18_large_volume_customers",
      "q19_disjunctive_predicates", "ta_tfidf", "pipeline_stratified_sample",
      "merge_upsert_customers", "evt_funnel_conversion", "evt_cohort_retention",
      "topk_native_pergroup", "scd2_customer_history", "ta_heavy_hitters",
      "join_salted_skew", "fn_struct_map", "agg_exact_median_2pass",
      "topk_native_hourly_users", "q12_late_shipments",
      "q2_min_price_supplier", "agg_unpivot_priority_status",
      "win_cume_dist_suppliers", "agg_corr_price_qty",
      // round 4: documents/events are nonempty at every sf
      "ta_repetition", "evt_next_purchase", "pipeline_pack_sequences",
      "fn_regex", "fn_encode", "agg_histogram_prices", "evt_gap_fill",
      "agg_bool_stats", "win_share_of_total",
      // round 5: documents/embeddings/events/orders are nonempty at every sf
      "evt_sliding_15m", "sim_quantize_int8", "sim_label_centroids",
      "dedup_bow", "agg_mode_priority", "agg_string_agg_nations",
      "ta_quality_filter", "pipeline_kfold", "fn_url",
      "mm_resize_stats", "mm_frame_dedup",
      "sim_ivf_kmeans", "sim_topk_ivf_trained", "agg_dispersion_qty",
      "evt_dau_wau", "ta_lang_confusion",
      // round 13: documents-derived, structurally nonempty at every sf.
      // mm_audio_fp_lookup qualifies too (r13 advice): clip length
      // n = doc_id % 601 + 200 is sf-independent, so every clip has >= 6
      // windows >= FpLandmarkWindows and the value-landmark lookup
      // yields self-hits even at sf0.001.
      "text_wordpiece_train", "text_wordpiece_encode",
      "mm_audio_fingerprint", "mm_audio_fp_lookup", "ta_sparse_cosine_topk",
      "diag_join_size_estimate",
      // round 15: events is nonempty at every sf, the rollup always has
      // users (and the decision columns ride every row)
      "diag_estimate_driven_agg")
    stable.foreach { name =>
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0,
        s"query $name returned no rows")
    }
  }

  test("every query's oracle entry exists or is a declared rows-only check") {
    // every queries key has oracle SQL; catches a renamed key on one side
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracle SQL without queries: $orphaned")
  }

  test("no shipped plan contains an unpartitioned (single-task) Window") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val global = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty,
        s"query $name has a global Window over ${global.map(_.windowExpressions)}")
    }
  }

  test("no row-scale Window rides a partition key with NDV below the core " +
    "count (the r15 agg_spearman lesson: a 3-value key serializes the " +
    "sort into 3 tasks at any scale) — outside the documented allowlist") {
    // Documented exemptions — every entry is the per-returnflag exact
    // rank/quantile family, whose window input is the per-(flag, value)
    // HISTOGRAM, not the raw rows: the histogram saturates in the value
    // domain as the corpus grows (measured slopes on the 10x probe:
    // equidepth 1.6x, percentiles 1.4x, spearman 2.0x, weighted_median
    // 1.8x, approx_quantiles' exact-comparison side 2.2x — all far
    // sub-linear), and for agg_spearman the window-free alternative was
    // BUILT and A/B-measured at sf1 (r15): the row-scale window-only
    // plan read 13.4-15.9s vs ~7s for this histogram-window + join-back
    // shape, i.e. the flagged 3-task sort over the saturating histogram
    // is the measured-optimal residual, with the heavy row-scale sorts
    // carried by 32-way hash-partitioned join-backs. Any NEW flag must
    // either be rewritten (entity keys never carry row-scale sorts) or
    // earn a measured entry here.
    val allowlisted = Set("agg_equidepth_deciles", "agg_percentiles",
      "agg_spearman", "agg_weighted_median", "sketch_approx_quantiles")
    // row-scale at sf0.001 = input >= 500 rows; >= 1000 rows per
    // partition separates fixed STRUCTURAL dimensions (flag: mass/key
    // grows with the corpus) from ENTITY keys (user_id: NDV grows, mass
    // per key stays O(1) — low-NDV only as a tiny-sf artifact).
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !allowlisted(name) =>
        graft.PlanAudit.lowNdvWindows(spark, fn(spark, sfDir), minRows = 500L)
          .map(d => s"$name: $d")
      case _ => Nil
    }
    assert(flagged.isEmpty,
      s"row-scale windows on low-NDV partition keys:\n${flagged.mkString("\n")}")
  }

  test("filters and projections are pushed into the parquet scans") {
    import org.apache.spark.sql.execution.ExplainMode
    def formatted(name: String): String =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))

    // q1: the lineitem scan must read only the 7 needed columns of 16 and
    // carry the shipdate predicate down to parquet
    val q1 = formatted("q1_pricing_summary")
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val readSchema = q1.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"q1 scan reads unneeded columns: $readSchema")

    // fn_string: the custkey range filter reaches the customer scan
    val fs = formatted("fn_string")
    assert(fs.contains("PushedFilters: [IsNotNull(c_custkey), LessThanOrEqual(c_custkey,200)]"))

    // dedup_exact: column pruning keeps lang/source/n_chars out of the scan
    val de = formatted("dedup_exact")
    val deSchema = de.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(deSchema.contains("text") && !deSchema.contains("lang") &&
      !deSchema.contains("n_chars"), s"dedup_exact scan not pruned: $deSchema")
  }

  test("fact and sf-proportional tables are never broadcast-hinted") {
    // the hint would appear in the analyzed plan; orders/customer/lineitem
    // scale with the data and must be left to AQE
    val joinHeavy = Seq("q3_shipping_priority", "q5_local_supplier",
      "q10_returned_items", "join_broadcast_brand_revenue")
    joinHeavy.foreach { name =>
      val analyzed = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.analyzed
      import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
      val hintedScans = analyzed.collect { case h: ResolvedHint =>
        h.child.collectLeaves().map(_.toString)
      }.flatten
      val bad = hintedScans.filter(s =>
        s.contains("orders.parquet") || s.contains("customer.parquet") ||
          s.contains("lineitem.parquet"))
      assert(bad.isEmpty, s"query $name broadcast-hints a scaling table: $bad")
    }
  }
}
