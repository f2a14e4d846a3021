package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast, partial aggregation, top-k without
  * full sort) are asserted on the executed plan, not just eyeballed.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  // Construction is memoized per query: composite queries run their eager
  // CC/checkpoint scaffolds AT CONSTRUCTION, and four suite-wide tests each
  // re-constructing all ~400 queries made this suite a ~10-minute hog
  // (r18 test-budget fix). Plan inspection never executes the frame, so
  // one construction serves every test.
  private val dfCache = scala.collection.mutable.Map[String, DataFrame]()
  private def frame(name: String): DataFrame =
    dfCache.getOrElseUpdate(name, SparkEntry.queries(name)(spark, sf))

  private def plan(name: String): String = {
    val df = frame(name)
    df.queryExecution.executedPlan.toString
  }

  private def scans(name: String): Seq[FileSourceScanExec] = {
    // sparkPlan (pre-AQE) is a plain tree; executedPlan hides stages behind
    // AdaptiveSparkPlanExec until execution
    val df = frame(name)
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
  }

  test("filters are pushed into the parquet scan") {
    val s = scans("q_filter_project").head
    assert(s.metadata("PushedFilters").contains("GreaterThan(l_quantity,45.0)"),
      s.metadata("PushedFilters"))
  }

  test("column pruning: scan reads only referenced columns") {
    val s = scans("q_filter_project").head
    val read = s.schema.fieldNames.toSet
    assert(!read.contains("l_shipdate") && !read.contains("l_partkey"),
      s"scan should not read unused columns, got $read")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q_join_inner").contains("BroadcastHashJoin"))
  }

  test("as-of join keeps the equi key (hash join, not nested loop)") {
    val p = plan("q_join_asof")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(500))
  }

  test("LATERAL correlated subquery decorrelates to the window-limit shape") {
    // q_lateral_topk's Scaladoc claims Catalyst rewrites the per-row
    // dependent subquery into the same ranked-window plan as q_win_rank
    // — pin it: no nested-loop per-customer re-execution survives.
    val p = plan("q_lateral_topk")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("global top-k plans as TakeOrderedAndProject, not full sort+limit") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
    // the r6 rank/lift reports make the same claim in their Scaladoc
    assert(plan("q_pagerank").contains("TakeOrderedAndProject"))
    assert(plan("q_market_basket").contains("TakeOrderedAndProject"))
  }

  test("aggregations are two-phase (map-side partial before the shuffle)") {
    val p = plan("q_agg_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(800))
  }

  test("hot paths stay inside whole-stage codegen") {
    // codegen collapse happens per-stage at execution under AQE — run the
    // query, then read the final plan
    val df = frame("q_agg_pricing_summary")
    df.collect() // count() would plan a new tree; collect finalizes THIS one
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n) Operator" in the final adaptive plan
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(600))
  }

  test("ranked top-k per group uses WindowGroupLimit pushdown") {
    assert(plan("q_win_rank").contains("WindowGroupLimit"))
    // the reservoir sample makes the same claim in its Scaladoc — guard it
    // (the count window must stay BELOW the rank filter or the rewrite
    // can't fire; see PipelineQueries.sampleReservoir)
    assert(plan("q_sample_reservoir").contains("WindowGroupLimit"))
    // item-item CF claims "top-10 per item plans as WindowGroupLimit"
    assert(plan("q_item_cf").contains("WindowGroupLimit"))
  }

  // (q_bloom_decontam's broadcast-probe claim is not assertable here: the
  // query localCheckpoints its report, so the returned frame's plan is an
  // ExistingRDD scan — the join executed inside the query fn.)

  test("zorder layout keeps the native Expression inside codegen") {
    val df = frame("q_zorder_layout")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the ZOrder Expression implements doGenCode — the projection that
    // computes z must sit inside a WholeStageCodegen span, not fall back
    // to interpreted evaluation
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(600))
  }

  test("native MaxTokenFreq codegens standalone and carries q_repetition_filter") {
    // standalone: a projection whose only non-trivial expression is
    // MaxTokenFreq must sit inside a whole-stage-codegen span — proving
    // doGenCode is live, not falling back to interpreted eval (array_sort
    // was rejected for exactly this: its default comparator is a lambda,
    // which is CodegenFallback and would poison the projection)
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.MaxTokenFreq(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("m"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("maxtokenfreq")).getOrElse("")
    assert(line.contains("*("), s"maxtokenfreq projection not codegen'd:\n$p")
    // in the engine query the mx projection is FUSED with the bigram
    // transform() HOF (CodegenFallback), so that Project runs interpreted
    // — but the native expression still replaces the quadratic
    // distinct×len lambda scan with one linear hash-count pass
    assert(plan("q_repetition_filter").contains("maxtokenfreq"))
  }

  test("no unbounded join shapes: cartesians banned except declared surfaces") {
    // q_join_cross IS the C11 cartesian surface (region × distinct p_type,
    // both constant-size). The brute-force scoring baselines nested-loop a
    // broadcast side of constant size (5–20 query vectors / K=8 centroids)
    // — a scan × tiny-constant, not an n² blowup. Everything else must plan
    // hash/sort-merge joins only; a regression here is the one plan shape
    // that cannot survive a 100× scale-up.
    // q_ts_resample: hour-grid × 5-row type dim, both constant-size by
    // construction (grid tracks the time range, not the data volume)
    val cartesianOk = Set("q_join_cross", "q_ts_resample")
    // q_tfidf: broadcast single-row scalar (corpus N) instead of a
    // driver-side collect — a 1-row nested loop by construction;
    // q_bpe_merges: 1-row invariant stats × 1-row alien-char count;
    // q_funnel: three single-row stage counts crossed into one report row
    // q_semantic_dedup: assignment pass crosses the scan with the 10-row
    // centroid broadcast
    val tinyBroadcastOk = cartesianOk ++
      Set("q_similar_topk", "q_knn_vote", "q_ann_ivf", "q_kmeans", "q_tfidf",
        "q_bpe_merges", "q_funnel", "q_semantic_dedup",
        "q_market_basket", // 1-row order-count broadcast
        "q_triangle_count", // 1-row wedge/triangle totals crossed into the report row
        "q_chi2_terms", "q_kl_divergence", // 1-row corpus token count broadcast
        "q_ann_ivfpq", // 8-row coarse-centroid broadcast in the probe pass
        "q_ann_recall", // 5-row query broadcast (exact side) + the ivfpq probe pass
        "q_ann_nprobe_sweep", // 20-row query + K-row centroid + 4-row nprobe-grid broadcasts
        "q_psi_drift", // 1-row global time/value-bounds broadcast
        "q_lm_perplexity", // 1-row vocabulary-size broadcast
        "q_dedup_recall", // three 1-row count aggregates crossed into the report row
        "q_shard_skew", // 1-row corpus-totals broadcast against the 64-row shard table
        "q_scd1_merge", // 1-row time-midpoint broadcast
        "q_ks_drift", // 1-row time-bounds broadcast
        "q_equidepth_bins", // 1-row order-count broadcast for the ntile formula
        "q_funnel_windowed", // three 1-row stage counts, as q_funnel
        "q_rfm_segments", // 1-row corpus-max-date broadcast for recency
        "q_bm25_topk", // 1-row (N, avgdl) corpus-stats broadcast
        "q_pmi_bigrams", // two 1-row total-count broadcasts
        "q_temperature_sampling", // 1-row corpus total + 1-row normalizer
        "q_hits", // 1-row L1 normalizer broadcast per round
        "q_calibration_bins", // 1-row score-bounds broadcast for the bin width
        "q_decile_lift", // 1-row row-count broadcast for the closed-form ntile
        "q_kappa_agreement", // three 1-row confusion aggregates crossed into the report row
        "q_brier_score", // 1-row score-bounds broadcast, as q_calibration_bins
        "q_modularity", // 1-row edge-count broadcast against the community table
        "q_zone_map_audit", // 1-row date-bounds broadcast for the range-shard formula
        "q_user_features", // 1-row corpus-max-date broadcast for recency, as q_rfm_segments
        "q_heaps_law", // 1-row doc-id-bounds broadcast for the checkpoint formula
        "q_sparse_cosine_pairs", // 1-row corpus-N broadcast for idf, as q_tfidf
        "q_kmv_sketch", // 1-row time-bounds broadcast + seven 1-row report aggregates
        "q_ab_test", // two 1-row arm summaries crossed into the readout row
        "q_woe_iv", // 1-row score-bounds broadcast, as q_calibration_bins
        "q_ks_scores", // 1-row class-totals broadcast (replaces the old unbounded-following window)
        "q_kaplan_meier", // 5-row horizon + ≤31-row day-factor broadcasts (calendar-bounded theta joins)
        "q_target_encode", // 1-row global-prior broadcast
        "q_neyman_alloc", // 1-row allocation-normalizer broadcast
        "q_mutual_info", // 1-row corpus-total broadcast into the cell/margin tables
        "q_mix_weights", // 1-row (n_langs, total-tokens) broadcast
        "q_rolling_distinct", // 1-row date-bounds broadcast for the full-window filter
        "q_join_size_est", // two 1-row summary aggregates crossed into the report row
        "q_linear_trend", // 1-row global-min-day broadcast for the day index
        "q_decay_engagement", // 1-row anchor-day broadcast for the decay offset
        "q_bootstrap_ci", // 1-row true-mean aggregate crossed into the report row
        "q_cramers_v", // 1-row grand-total broadcast into the 35-cell table
        "q_pca_power", // 1-row n/norm/eigenvalue broadcasts around the 256-cell covariance
        "q_brier_decomp", // 1-row score-bounds + grand-rate broadcasts, as q_brier_score
        "q_decision_stump", // 1-row class-totals broadcast against the bucket grid
        "q_rec_coverage", // 1-row catalog/rank-decay aggregates crossed into the report row
        "q_t_closeness", // bands-domain (~6-row) grid broadcast + 1-row corpus totals
        "q_cuped", // 1-row cut-date broadcast for the pre/post split
        "q_ridge_cv", // 4-row lambda-grid broadcast onto the validation scan
        "q_tail_index", // 1-row threshold broadcast over the top-200 frame
        "q_silhouette", // K-row (label-vocabulary) centroid broadcast, as q_knn_vote
        "q_markov_stationary", // 1-row state-count + pair-total broadcasts on the 5-state chain
        "q_kendall_head", // <=200-row head-intersection pair join (report-sized)
      "q_logistic_irls", // 1-row beta broadcasts per IRLS round
      "q_boosted_stumps", // 1-row split/sse broadcasts per boosting round
      "q_naive_bayes", // 1-row vocab-size/doc-total + langs x vocab grid broadcasts
      "q_rfm_quintiles", // 1-row user-count broadcast for the quintile arithmetic
      "q_power_user_curve", // 1-row user-total broadcast for the percentages
      "q_lorenz_curve", // 1-row (n, total-cents) broadcast for decile shares
      "q_mmr_rerank", // <=20-candidate pair table + 1-row greedy picks (report-sized)
      "q_lang_vocab_overlap", // |langs|-row size-table inequality self-join (grid-sized)
      "q_bitmap_index", // |types|-row size-table inequality self-join (grid-sized)
      "q_sequential_ab", // 1-row min-date / total-count broadcasts
      "q_pairwise_means", // |types|-row moment-table pair grid + 1-row pooled MSE
      "q_ktruss", // 1-row per-round edge/triangle totals crossed into report rows
      "q_modality_mix", // 1-row corpus-totals broadcast into the 3-row modality report
      "q_changepoint_binseg", // 1-row split/segment-total broadcasts per search round
      "q_token_budget_plan", // 1-row total-mass / leftover broadcasts
      "q_trimmed_mean", // |types|-row total broadcast onto the cent grid
      "q_negative_sampling", // 1-row catalog-bound / positive-count broadcasts
      "q_qini_uplift", // 1-row user-count / arm-totals broadcasts
      "q_abc_xyz", // 1-row total-revenue / week-count broadcasts
      "q_affinity_index", // 1-row grand-total broadcast onto the segment x band grid
      "q_theil_sen", // <=31-row daily-table pair join (calendar-bounded) + 1-row count broadcasts
      "q_runs_test", // 1-row cutoff / day-count broadcasts
      "q_cohens_d", // 3-row returnflag moment-grid pair join
      "q_query_likelihood", // 1-row collection-token-total broadcast, as q_bm25_topk
      "q_isotonic_calibration", // 1-row score-bounds broadcast + i<=k<=j triple join of the <=10-row bin table
      "q_vocab_coverage", // 1-row (total-mass, type-count) broadcast onto the type sweep
      "q_jackknife_se", // 1-row day-table totals broadcast for the leave-one-out ratios
      "q_mutual_knn", // K-row (label-vocabulary) centroid broadcast, as q_semantic_dedup
      "q_capture_recapture", // three 1-row detector-count aggregates crossed into the report row
      "q_shingle_df_profile", // 1-row pair-work total broadcast onto the <=64-row histogram
      "q_lsh_bucket_occupancy", // 1-row candidate-pair total broadcast onto the <=64-row histogram
      "q_dedup_source_bias", // 1-row overall-keep-rate broadcast onto the |sources|-row grid
      "q_nelson_aalen", // 5-row horizon + ≤31-row day-factor broadcasts, as q_kaplan_meier
      "q_simpson_paradox", // 1-row pooled-slope broadcast onto the |types|-row grid
      "q_benjamini_hochberg", // |types|-row moment pair grid + 1-row pooled MSE / step-up cutoff broadcasts
      "q_bradley_terry", // |types|²-row pair grid + 1-row anchor broadcast per MM round
      "q_good_turing", // 1-row (N, N1) totals broadcast onto the ≤max-count-row histogram
      "q_kneser_ney", // vocab-bounded model-table broadcasts + 1-row (B, V) totals
      "q_data_constrained_scaling", // 1-row (U, T) token-supply broadcast under the 5-row epoch grid
      "q_hurst_exponent", // 1-row OLS-slope broadcast onto the 4-row block-size table
      "q_conformal_interval", // |types|x24 model grid + |types|-row caln/qhat broadcasts
      "q_matching_att", // caliper theta-join of value-bounded score grids + 1-row naive broadcast
      "q_krippendorff_alpha", // three 1-row coincidence aggregates crossed into the report row
      "q_shapley_attribution", // 8-row coalition-lattice theta joins + 1-row grand-total broadcast
      "q_kruskal_wallis", // 1-row tie-totals broadcast onto the |types|-row rank-sum report
      "q_brown_forsythe", // 1-row pooled-F broadcast onto the |types|-row deviation report
      "q_friedman_test", // 1-row k broadcast + calendar-bounded complete-day table
      "q_cochran_q", // 1-row k / row-total broadcasts onto the |types|-row column totals
      "q_split_leakage", // 1-row candidate-total broadcast onto the <=6-row split matrix
      "q_split_safe", // 1-row corpus-total broadcast onto the 3-row split report
      "q_split_safe_leakage", // 1-row candidate-total broadcast onto the <=6-row split matrix
      "q_split_balance", // |splits|x|margin| dense expected grids + 1-row corpus-total broadcasts
      "q_ccnet_ppl_buckets", // 1-row vocabulary-size broadcast (the q_lm_perplexity LM)
      "q_capture_recapture_stratified", // 1-row stratified-total aggregate unioned under the <=4-row stratum report
      "q_dedup_cluster_profile", // 1-row clustered-doc total broadcast onto the <=|sizes|-row histogram
      "q_semdedup_eps_sweep", // 1-row corpus-total broadcast onto the 1-row 4-tier aggregate
      "q_contam_ngram_sweep", // two 1-row corpus aggregates crossed into each arm's report row
      "q_dsir_selection", // 1-row (n_tgt, n_raw) totals broadcast onto the ≤10k-row hash-bounded feature table
      "q_ivf_list_balance", // K-row centroid broadcast in the probe pass + 1-row summary crossed onto the K-row list report
      "q_proto_pruning", // K-row centroid broadcast (the q_semantic_dedup assignment pass)
      "q_quality_filter_agreement", // 1-row vocabulary-size broadcast (the shared ccnetDocTiers LM)
      "q_contam_attribution") // 1-row hit-total broadcast onto the |sources|-row attribution report
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = frame(name)
      val p = df.queryExecution.sparkPlan.toString
      if (!cartesianOk(name))
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct — unbounded at scale")
      if (!tinyBroadcastOk(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin — check join keys")
    }
  }

  test("no single-partition windows over unbounded inputs") {
    // An unpartitioned Window funnels its whole input through ONE task —
    // the scale-killer class the two-level-ordinal pattern
    // (q_global_ordinals / EvalQueries.bucketOffsets) exists to avoid.
    // Whitelist = queries whose every unpartitioned window provably runs
    // over a BOUNDED table (bucket/offset histograms of tens of rows,
    // calendar grids, fixed checkpoint/bin/decile tables), each justified:
    val boundedWindowOk = Set(
      // bucket-offset histograms (rows = #value-range buckets, tens):
      "q_auc", "q_avg_precision", "q_gini", "q_ks_scores", "q_rrf_fusion",
      "q_global_ordinals", "q_equidepth_bins", "q_decile_lift",
      "q_dedup_sorted_neighborhood", "q_skyline",
      "q_mom_growth", // calendar-month table (rows = months in range)
      "q_heaps_law", // fixed doc-count checkpoint table (~20 rows)
      "q_woe_iv", // score-range bin table (10 rows by construction)
      "q_modularity", // community table (bounded by the brand vocabulary)
      "q_sample_systematic", // 16-row hash-range bucket-offset histogram
      "q_mann_whitney", // ~50-row value-grid bucket histogram
      "q_decision_stump", // ~20-row price-range bucket-offset histogram
      "q_spearman", // <=64-row highest-set-bit bucket histogram
      "q_boosted_stumps", // <=24-row feature-histogram prefix sums
      "q_abc_xyz", // <=64-row highest-set-bit revenue-sum offset histogram
      "q_rfm_quintiles", "q_lorenz_curve", // <=64-row highest-set-bit offset histograms
      "q_power_user_curve", // active-days histogram (calendar-bounded rows)
      "q_sequential_ab", // daily-look table (calendar-bounded rows)
      "q_changepoint_binseg", // daily series table (calendar-bounded rows)
      "q_token_budget_plan", // remainder rank over the <=|langs|-row share table
      "q_qini_uplift", // cumulative window over the 10-row decile table
      "q_theil_sen", // rank over the <=465-row day-pair slope frame (calendar-bounded)
      "q_runs_test", // rank + lag over the <=31-row daily frame (calendar-bounded)
      "q_isotonic_calibration", // cumulative sums over the 10-row bin table (fixed bin count)
      "q_vocab_coverage", // <=64-row log2-count offset histogram (two-level ordinal pattern)
      "q_benjamini_hochberg", // p-rank over the C(|types|,2)-row comparison grid (report-sized)
      "q_hurst_exponent", // day-index row_number over the calendar-bounded day table
      "q_kruskal_wallis") // ≤50-row c div 1000 bucket-offset histogram (the q_mann_whitney pattern)
    // r18 (verdict item 8): the whitelist entries above are no longer
    // trusted on their comments — every whitelisted query's unpartitioned
    // window must sit above a ROW-BOUNDED subtree, verified mechanically:
    // on every path from the window to a leaf an aggregate (group-
    // cardinality barrier) or limit intervenes, or the leaf is a local
    // relation. Checkpoint leaves (RDD scans) hide their producer, so
    // queries whose bounded frame is materialized behind a localCheckpoint
    // need the explicit ckptLeafOk entry (justification = what was
    // checkpointed).
    val ckptLeafOk = Set(
      "q_dedup_sorted_neighborhood", // ordinal windows ride the checkpointed <=64-row highest-set-bit offset histogram join
      "q_heaps_law", // fixed ~20-row doc-count checkpoint table
      "q_benjamini_hochberg", // p-rank over the checkpointed C(|types|,2)-row comparison grid (report-sized)
      "q_changepoint_binseg", // checkpointed day-aggregated series (groupBy to_date → ckpt; calendar-bounded)
      "q_theil_sen", // checkpointed daily-cents table feeding the <=C(31,2)-row slope pair frame
      "q_runs_test") // checkpointed daily table (<=31 rows), cutoff + sign windows over it
    def rowBounded(p: org.apache.spark.sql.execution.SparkPlan,
        ckptOk: Boolean): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case r: org.apache.spark.sql.execution.RDDScanExec => ckptOk
      case leaf if leaf.children.isEmpty => false // file scans, ranges
      case other => other.children.forall(c => rowBounded(c, ckptOk))
    }
    val violations = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = frame(name)
      val bad = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      if (!boundedWindowOk(name)) {
        if (bad.nonEmpty) violations +=
          s"$name plans ${bad.size} unpartitioned Window node(s) — " +
            "single-task at scale; use the two-level bucket-offset pattern " +
            "or whitelist with a boundedness justification"
      } else bad.foreach { w =>
        if (!rowBounded(w.child, ckptLeafOk(name))) violations +=
          s"$name is whitelisted for unpartitioned windows but a window's " +
            s"subtree is NOT provably row-bounded (no aggregate/limit " +
            s"barrier above an unbounded leaf): ${w.child.nodeName} over " +
            w.child.collectLeaves().map(_.nodeName).mkString(",")
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no windows partitioned ONLY by low-cardinality keys over unbounded inputs") {
    // The entity-scaled sibling of the unpartitioned-window guard (the
    // ADVICE-r9 q_top_p_filter class): a window whose partitionSpec is
    // solely a tiny-vocabulary key (language, event type, order flags)
    // funnels O(input / |vocab|) rows through a handful of tasks — it
    // LOOKS distributed but is O(corpus) per task at scale. Adding a
    // hash-bucket / ordinal column to the partitionSpec (the two-level
    // pattern) breaks the class, as does running the window over an
    // already-aggregated bounded table — the whitelist below is the
    // latter, each entry justified by what bounds the window's input:
    val lowCard = Set("lang", "event_type", "l_returnflag", "l_linestatus",
      "o_orderstatus", "o_orderpriority", "c_mktsegment", "r_name", "n_name",
      "p_brand", "dow", "stratum", "segment", "label")
    val boundedInputOk: Map[String, String] = Map(
      // (query -> what bounds the low-card-partitioned window's input)
      "q_stl_seasonal" -> "input = day×type daily-mean table (calendar-bounded)",
      "q_stl_residual_anomaly" -> "input = day×type daily table (calendar-bounded)",
      "q_anomaly_zscore" -> "input = day×type daily table (calendar-bounded)",
      "q_anomaly_mad" -> "input = day×type daily table (calendar-bounded)",
      "q_cusum_changepoint" -> "input = day×type daily-mean table (calendar-bounded)",
      "q_ewma_daily" -> "input = day×type daily-mean table (calendar-bounded)",
      "q_spc_chart" -> "input = day×type daily-mean table (calendar-bounded)",
      "q_seasonal_strength" -> "input = day×type daily table (calendar-bounded)",
      "q_markov_transitions" -> "input = type×type transition table (25 rows)",
      "q_ts_resample" -> "input = hour×type resampled grid (calendar-bounded)",
      "q_autocorr" -> "input = day×type daily table (calendar-bounded)",
      "q_forecast_eval" -> "input = day×type daily table (calendar-bounded)",
      "q_calendar_gaps" -> "input = day×type daily table (calendar-bounded)",
      "q_benford" -> "input = dense 9-digit×type grid (≤9·|types| rows)",
      "q_zipf_slope" -> "input = per-lang word-frequency table (vocabulary-bounded)",
      "q_chi2_terms" -> "input = lang×word score table (vocabulary-bounded); rank filter plans WindowGroupLimit",
      "q_quantile_sketch" -> "input = equi-width histogram relation (bin-bounded)",
      "q_ks_drift" -> "input = type×distinct-cent grid (≤49k cells/type by the 2-decimal value domain)",
      "q_quantile_normalize" -> "input = type×cent grid (≤49k cells/type by the 2-decimal value domain)",
      "q_median_ci" -> "input = type×cent grid (≤49k cells/type by the 2-decimal value domain)",
      "q_win_cume" -> "input filtered to user_id<10 (fixed user set; E1 cume_dist coverage demo)",
      "q_sample_reservoir" -> "rank filter sits directly above the window → WindowGroupLimit caps rows at k per group map-side",
      "q_top_p_filter" -> "offset window runs over the ≤|langs|×256-row bucket histogram",
      "q_ccnet_ppl_buckets" -> "offset window runs over the ≤|langs|×64-row log2-ppl bucket histogram; the doc-level rank window partitions by (lang, bkt)",
      "q_quality_filter_agreement" -> "the shared ccnetDocTiers offset window over the ≤|langs|×64-row log2-ppl bucket histogram (as q_ccnet_ppl_buckets)",
      "q_var_cvar" -> "input = type×cent grid (≤49k cells/type by the 2-decimal value domain)",
      "q_trimmed_mean" -> "input = type×cent grid (≤49k cells/type by the 2-decimal value domain)",
      "q_conformal_interval" -> "input = type×residual-cent grid (≤49k cells/type by the 2-decimal value domain)",
      "q_brown_forsythe" -> "input = type×cent grid (≤49k cells/type by the 2-decimal value domain)")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      if (boundedInputOk.contains(name)) None
      else {
        val df = frame(name)
        val bad = df.queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.nonEmpty &&
                w.partitionSpec.forall(_.references.forall(a => lowCard(a.name))) => w
        }
        if (bad.isEmpty) None else Some(s"$name (${bad.size})")
      }
    }
    assert(offenders.isEmpty,
      s"windows partitioned only by low-cardinality key(s) — " +
        s"O(input/|vocab|) per task at scale; add a bucket column " +
        s"(two-level pattern) or whitelist with a boundedness " +
        s"justification: ${offenders.mkString(", ")}")
  }

  test("runtime bloom-filter join: selective dim side injects a bloom into the fact scan") {
    // At 100 TB the win is pruning fact rows BEFORE the shuffle when the
    // dim side is filtered but too big to broadcast. Production default
    // thresholds target >=10 GB application sides — lowered here (and
    // broadcast disabled) purely to exercise the rewrite on test data;
    // the assertion is that the mechanism is wired, not the threshold.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val urgent = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables.lineitem(spark, sf)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter on the fact side:\n${optimized.take(1500)}")
      assert(joined.collect().nonEmpty)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every oracle query reads only parquet sources (no driver-side data)") {
    SparkEntry.oracleSql.keys.foreach { name =>
      val df = frame(name)
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty, s"$name has no sources")
    }
  }
}
