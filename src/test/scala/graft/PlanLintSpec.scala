package graft

/** Plan regression guard: every driver query's physical plan is
  * checked for shapes that must never appear by accident. A change
  * that silently turns a bucket/broadcast join into a Cartesian
  * product fails here, not at 100 TB. */
class PlanLintSpec extends SparkSpec {

  /** Queries whose ALGORITHM is an intentional all-pairs scan —
    * documented baselines with subquadratic scale-path variants. */
  private val allPairsBaselines = Set("ann_topk", "dedup_embed_cosine")

  /** Every driver query's executed plan, built ONCE and shared by the
    * lints below — planning the whole query set is this suite's cost. */
  private lazy val plans: Seq[(String, String)] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan.toString
    }

  test("no query plan contains an accidental Cartesian product") {
    plans.foreach { case (name, plan) =>
      if (!allPairsBaselines(name))
        assert(!plan.contains("CartesianProduct"),
          s"$name plan contains CartesianProduct:\n$plan")
    }
  }

  /** Queries whose plan may legitimately carry an Exchange
    * SinglePartition: global (ungrouped) aggregates reduce to ONE
    * output row, and the exchange moves only map-side partial-agg
    * rows (one per task), never the data. Anything else gathering to
    * one partition (a partition-less window, a global sort feeding
    * more work) is a scale bug. */
  private val globalAggQueries = Set("dq_summary", "dq_profile",
    // corpus-statistics scalars (N, avgdl, unigram/bigram totals):
    // 1-row ungrouped aggs broadcast back into the scoring join
    "text_tfidf", "text_bm25", "text_pmi_bigrams", "text_unigram_logprob",
    // embeds the bm25 leg's corpus scalars (and 20-row leg aggs)
    "text_hybrid_rrf",
    // calendar bounds: a 1-row min/max agg that seeds the date-span
    // frame (the exploded calendar is re-spread by repartition(day))
    "q_gapfill_daily", "q_calendar_dim",
    // corpus-total / distinct-user-count scalars: 1-row ungrouped
    // aggs broadcast back into the keep-fraction / lift expressions
    "q_domain_mix", "q_item_cooccurrence", "q_triangle_count",
    // node-count scalar seeding the uniform initial rank
    "q_pagerank_items",
    // 1-row min(item) agg seeding the BFS (was a collected head() —
    // a separate driver action invisible to this lint; the r17 fold
    // moved the same minimum inside the one query plan)
    "q_reachability",
    // two per-snapshot moment aggs, each ONE row, cross-joined
    "q_drift_snapshots",
    // 1-row totals agg over the 10-row decile table, cross-joined
    "q_decile_lift",
    // 1-row N and chi2 aggs over the ~25-cell contingency table
    "q_chi2_independence",
    // 1-row total over the 9-row first-digit frame, cross-joined
    "dq_benford",
    // 1-row year totals + 1-row PSI over the ~25-bucket frame
    "q_psi_drift",
    // 1-row OLS power sums over the <=200-row ranked-vocab frame
    "text_zipf_fit",
    // 1-row user-total broadcast, same shape as q_item_cooccurrence
    "q_assoc_rules",
    // 1-row global total / max over the already-reduced per-key frame
    "q_important_parts", "q_top_supplier",
    // 1-row MI/chi2 aggs over the ~15-cell contingency table
    "q_mutual_info",
    // 1-row S/n aggs over the ~80-month pair frame
    "q_trend_mk",
    // 1-row combinable final avg / positive-balance average scalar
    "q_small_qty_revenue", "q_idle_rich_customers",
    // 1-row filter-and-sum aggregates (TPC-H Q6 / Q19 shapes)
    "q_forecast_revenue", "q_brand_promo_revenue",
    // 1-row statistical-test aggs over already-reduced frames
    // (monthly series / six power-sum scalars / four split counts)
    "q_spearman_corr", "q_welch_ttest", "q_autocorr", "q_ab_conversion",
    // three 1-row key-stats aggs over per-key count frames
    "dq_key_skew",
    // 1-row overall mean over the bounded 12-row month frame
    "q_seasonal_index",
    // 1-row anchor-day max over the events scan
    "q_decayed_score",
    // 1-row Σx/Σx² moment agg over the bounded daily frame
    "q_value_spike_days",
    // 1-row distinct-user-count scalar, same shape as q_triangle_count
    "q_clustering_coeff",
    // 1-row 2×2 conditional-agg cells / high-water-mark scalar
    "q_promo_did", "dq_freshness",
    // 1-row vocab scalar, same shape as text_unigram_logprob
    "text_bigram_logprob",
    // 1-row revenue-total scalar over the bounded levels frame
    "q_discount_depth",
    // 1-row last-month scalar bounding churn attribution
    "q_growth_accounting",
    // two 1-row corpus-hygiene aggs (counts/extremes + decimal mean)
    "embed_quality_stats",
    // 1-row candidate-mass total over the <=40-row df-band frame
    "dedup_shingle_profile",
    // 1-row Gini moment agg over the per-customer cum frame
    "q_revenue_gini",
    // 1-row char-total + decimal sqrt-sum scalars, cross-joined
    "corpus_mix_temperature")

  test("no query gathers data to a single partition (except 1-row aggs)") {
    plans.foreach { case (name, plan) =>
      if (!globalAggQueries(name))
        assert(!plan.contains("SinglePartition"),
          s"$name plan gathers to a single partition:\n$plan")
    }
  }

  test("filtered fact scans push predicates into the parquet reader") {
    // representative pushdown checks: the scan node must carry
    // PushedFilters for plan-level filters on scan columns (plan
    // strings truncate metadata at 100 chars by default — raise it)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
        s"q1 scan lost shipdate pushdown:\n$q1")
      val fact = SparkEntry.queries("fact_sales")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(fact.contains("PushedFilters") && fact.contains("GreaterThan(l_quantity"),
        s"fact_sales scan lost DQ-filter pushdown:\n$fact")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
  }
}
