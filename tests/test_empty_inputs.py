"""Degenerate-input robustness: at 100 TB, per-partition slices and
freshly-created tables ARE empty sometimes — operators must return
empty/sane results, never throw. Each new-family operator runs over
a zero-row copy of its input tables (real schemas, no rows)."""

from __future__ import annotations

import pytest

from rdbms_metadata_manager_spark.registry import all_queries


@pytest.fixture(scope="module")
def empty_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in ["orders", "documents", "events", "customer", "supplier", "lineitem", "embeddings", "nation", "region", "part"]:
        (
            spark.read.parquet(f"{sf_dir}/{t}.parquet")
            .limit(0)
            .write.parquet(f"{d}/{t}.parquet")
        )
    return d


@pytest.mark.parametrize(
    "mod_name, query",
    [
        ("queries.profiling", "resample_events_hourly"),
        ("queries.profiling", "resample_events_hourly_locf"),
        ("queries.profiling", "outlier_customers_iqr"),
        ("queries.profiling", "histogram_order_values"),
        ("queries.profiling", "anomaly_event_hours"),
        ("llm.sampling", "split_train_val_test"),
        ("llm.sampling", "sample_stratified_lang"),
        ("llm.sampling", "pack_training_sequences"),
        ("llm.sampling", "sample_reservoir_per_source"),
        ("llm.sampling", "sample_weighted_topk"),
        ("llm.hygiene", "decontaminate_train_test"),
        ("llm.hygiene", "text_repetition_stats"),
        ("llm.quantize", "embedding_quantize_int8"),
        ("llm.quantize", "embedding_quantization_error"),
        ("llm.entity", "entity_match_fuzzy_names"),
        ("llm.fingerprint", "text_winnow_fingerprints"),
        ("llm.fingerprint", "dedup_winnow_overlap"),
        ("llm.dedup", "dedup_jaccard_prefix_filter"),
        ("llm.dedup", "dedup_containment"),
        ("queries.mining", "skyline_customers"),
        ("queries.profiling", "resample_events_hourly_interp"),
        ("queries.features", "feature_quantile_buckets"),
        ("queries.cohort", "rolling_7d_active_users"),
        ("queries.cohort", "rfm_customer_segments"),
        ("queries.modern", "sql_udf_price_bands"),
        ("queries.modern", "parameterized_top_purchasers"),
        ("queries.scd", "snapshot_diff_orders"),
        ("llm.text", "lexical_rarity_stats"),
        ("queries.cohort", "dau_mau_stickiness"),
        ("queries.mining", "pareto_revenue_concentration"),
        ("streaming.events_batch", "session_bounce_stats"),
        ("queries.modern", "variant_event_props"),
        ("queries.modern", "recursive_balance_replay"),
        ("queries.cohort", "cohort_retention"),
        ("queries.scd", "scd2_user_state_intervals"),
        ("queries.skew", "heavy_hitter_users"),
        ("queries.features", "feature_scale_orders"),
        ("queries.forecast", "forecast_seasonal_naive_backtest"),
        ("queries.scd", "pit_state_at_purchase"),
        ("queries.cohort", "event_path_trigrams"),
        ("queries.skew", "salted_join_revenue"),
        ("llm.similarity", "knn_join_bruteforce"),
        ("llm.similarity", "hybrid_search_rrf"),
        ("llm.text", "text_normalize_stats"),
        ("llm.pipeline", "source_token_budget_cap"),
        ("llm.pipeline", "source_mix_weights"),
        ("llm.semdedup", "semdedup_embedding_clusters"),
        ("llm.curation", "dsir_importance_weights"),
        ("llm.curation", "chunk_dedup_rewrite"),
        ("llm.pq", "pq_adc_search"),
        ("llm.hygiene", "gopher_repetition_profile"),
        ("llm.udfs", "udtf_table_arg_source_profile"),
        ("llm.sampling", "span_corruption_pairs"),
        ("llm.semdedup", "d4_prototype_prune"),
        ("llm.dedup", "cross_source_dup_matrix"),
        ("llm.gram", "embedding_gram_matrix"),
        ("llm.bpe", "bpe_pair_merge_counts"),
        ("llm.similarity", "hard_negative_mining"),
        ("llm.shared_runs", "dedup_longest_shared_run"),
        ("llm.projection", "embedding_random_projection"),
        ("llm.sampling", "shard_packing_nextfit"),
        ("llm.sampling", "leakage_safe_split"),
        ("llm.text", "vocab_oov_rate"),
        ("llm.projection", "embedding_dim_robust_stats"),
        ("llm.clustering", "dedup_clusters_star"),
        ("queries.cogroup", "cogroup_balance_ks"),
        ("queries.modern", "pipe_syntax_order_stats"),
        ("streaming.events_batch", "session_pattern_abandonment"),
        ("llm.sampling", "sequence_length_histogram"),
        ("llm.pipeline", "corpus_temperature_mix"),
        ("llm.curation", "source_quality_gate"),
        ("queries.mining", "local_clustering_coefficients"),
        ("llm.text", "pmi_collocations"),
        ("llm.dedup", "ngram_novelty_curve"),
        ("queries.mining", "copurchase_degree_histogram"),
        ("llm.projection", "embedding_norm_outlier_bands"),
        ("llm.clustering", "dedup_cluster_size_histogram"),
        ("queries.modern", "group_by_all_order_stats"),
        ("queries.modern", "approx_topk_event_types"),
        # session-J additions (streaming_cms_heavy_hitters excluded
        # like streaming_hll_distinct: a zero-file staged stream
        # never produces state by design)
        ("queries.forecast", "autocorr_daily_events"),
        ("queries.forecast", "seasonal_decompose_daily"),
        ("llm.dedup", "minhash_estimate_calibration"),
        ("llm.dedup", "dedup_edit_distance_verify"),
        ("llm.dedup", "dedup_tf_cosine"),
        ("llm.text", "language_id_confusion"),
        ("llm.text", "zipf_rank_frequency_audit"),
        ("llm.text", "source_signature_chisq"),
        ("llm.bpe", "bpe_train_merges"),
        ("queries.cohort", "event_markov_transitions"),
        ("queries.skew", "countmin_heavy_hitters"),
        ("llm.bpe", "bpe_vocab_after_merges"),
        ("llm.similarity", "embedding_pair_cosine_profile"),
        ("queries.cohort", "user_event_gap_histogram"),
        ("llm.multimodal", "multimodal_audio_chunks"),
        ("queries.modern", "bitmap_distinct_users"),
        # round-4 additions
        ("queries.mining", "scan_structural_similarity"),
        ("queries.forecast", "changepoint_daily_events"),
        ("llm.similarity", "similarity_mmr_rerank"),
        ("llm.bpe", "tokenizer_fertility_report"),
        ("llm.similarity", "similarity_filtered_topk"),
        ("llm.quantize", "similarity_binary_rerank"),
        ("llm.projection", "matryoshka_truncation_recall"),
        ("llm.ranking", "retrieval_eval_metrics"),
        ("llm.similarity", "label_noise_knn_audit"),
        ("llm.sampling", "coreset_kcenter_sample"),
        ("llm.clustering", "cluster_safe_split"),
        ("queries.cohort", "user_activity_streaks"),
        # round-6 additions that contract to ZERO rows on empty input
        ("queries.advanced", "event_type_user_jaccard"),
        ("queries.mining", "rich_club_coefficient"),
        ("queries.forecast", "event_burstiness_fano"),
        ("queries.cohort", "user_acquisition_curve"),
        ("queries.tpch_extra", "open_orders_backlog"),
        ("queries.scd", "state_dwell_time_shares"),
        ("queries.profiling", "grouped_mad_two_pass"),
        ("queries.graph", "recursive_cte_trade_reach"),
        ("queries.quality", "fk_fanout_profile"),
        ("llm.sampling", "neyman_allocation_plan"),
        # round-7 additions that contract to ZERO rows on empty input
        # (the global-aggregate stats reports are covered by
        # test_round7_ops.test_global_agg_stats_on_empty_input)
        ("queries.stats", "daily_cross_correlation"),
        ("queries.stats", "conformal_forecast_intervals"),
        ("queries.stats", "bh_fdr_nation_drift"),
        ("queries.audit", "minmax_skipping_audit"),
        ("llm.curation", "jackknife_source_sensitivity"),
        ("llm.curation", "gains_curve_scorer"),
        # round-8 second-session additions that contract to ZERO rows
        # (the 1-row global-aggregate stats are covered by
        # test_round8b_ops.test_global_agg_stats_on_empty_input)
        ("llm.calibration", "isotonic_calibration_pava"),
        ("queries.profiling", "hilbert_curve_locality"),
        ("queries.modern", "kmins_distinct_audit"),
        ("llm.ranking", "ndcg_at_10_eval"),
        ("llm.text", "burrows_delta_sources"),
    ],
)
def test_empty_input_yields_empty_output(spark, empty_dir, mod_name, query):
    fn = all_queries()[query]
    assert fn.__module__ == f"rdbms_metadata_manager_spark.{mod_name}"
    df = fn(spark, empty_dir)
    assert df.count() == 0
    assert len(df.columns) > 0  # schema survives


def test_threshold_sweep_on_empty_corpus_reports_zero_spine(spark, empty_dir):
    """The sweep's threshold spine is fixed: an empty corpus yields
    all five thresholds with zero pair/doc counts, not zero rows —
    the report a curator reads must never silently vanish."""
    from rdbms_metadata_manager_spark.llm.dedup import SWEEP_THRESHOLDS, dedup_threshold_sweep

    rows = dedup_threshold_sweep(spark, empty_dir).collect()
    assert [r.threshold_pct for r in rows] == sorted(SWEEP_THRESHOLDS)
    for r in rows:
        assert r.n_pairs == 0 and r.n_docs_affected == 0


def test_scorer_agreement_on_empty_corpus_is_one_null_row(spark, empty_dir):
    """Global-aggregate report: an empty corpus yields ONE row of
    zero cells with NULL agree_pm/kappa_pm (guarded divisions), not
    zero rows and never an ANSI divide-by-zero."""
    from rdbms_metadata_manager_spark.llm.curation import quality_scorer_agreement

    rows = quality_scorer_agreement(spark, empty_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.both_keep, r.rule_only, r.clf_only, r.both_drop) == (0, 0, 0, 0, 0)
    assert r.agree_pm is None and r.kappa_pm is None


def test_profile_on_empty_table_reports_zero_rows(spark, empty_dir):
    from rdbms_metadata_manager_spark.queries.profiling import profile_orders_columns

    rows = profile_orders_columns(spark, empty_dir).collect()
    assert len(rows) == 6  # one row per profiled column, even with no data
    for r in rows:
        assert r["n_rows"] == 0 and r["n_nulls"] == 0 and r["n_distinct"] == 0
        assert r["min_repr"] is None and r["max_repr"] is None


def test_observed_metrics_on_empty_scan_report_null_sum(spark, empty_dir):
    """observe()'s sum over zero rows is None (SQL semantics); the
    one-row rebuild must carry it as NULL — matching the oracle's
    (0, NULL, 0) — not crash on int(None)."""
    from rdbms_metadata_manager_spark.queries.profiling import observed_scan_metrics

    rows = observed_scan_metrics(spark, empty_dir).collect()
    assert [tuple(r) for r in rows] == [(0, None, 0)]


def test_triangle_summary_on_empty_graph_is_all_zero(spark, empty_dir):
    """copurchase_triangles returns a one-row summary; on an empty
    lineitem it must be (0, 0, 0), not a crash in the checkpointed
    edge pipeline or a NULL triangle sum."""
    from rdbms_metadata_manager_spark.queries.mining import copurchase_triangles

    rows = copurchase_triangles(spark, empty_dir).collect()
    assert [tuple(r) for r in rows] == [(0, 0, 0)]


def test_ktruss_on_empty_corpus_keeps_fixed_round_spine(spark, empty_dir):
    """Fixed-round report: an empty graph yields TRUSS_ROUNDS rows of
    zero counts (the report a grapher reads must never silently
    vanish), not zero rows."""
    from rdbms_metadata_manager_spark.queries.mining import (
        TRUSS_ROUNDS,
        ktruss_copurchase_edges,
    )

    rows = ktruss_copurchase_edges(spark, empty_dir).collect()
    assert [r.round for r in rows] == list(range(1, TRUSS_ROUNDS + 1))
    assert all(r.n_edges_before == 0 and r.n_peeled == 0 for r in rows)


def test_negative_control_on_empty_corpus_is_one_zero_row(spark, empty_dir):
    """Global-aggregate report: one row, zero pairs, NULL summary
    stats (guarded divisions) — never an empty result or a crash."""
    from rdbms_metadata_manager_spark.llm.dedup import dedup_negative_control

    rows = dedup_negative_control(spark, empty_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_control_pairs == 0
    assert r.mean_jaccard_permille is None and r.max_jaccard_permille is None


def test_time_to_convert_on_empty_corpus_is_one_zero_row(spark, empty_dir):
    """Global-aggregate report: zero converted users yields one row
    with n_converted=0 and NULL order statistics — never a crash."""
    from rdbms_metadata_manager_spark.queries.cohort import funnel_time_to_convert

    rows = funnel_time_to_convert(spark, empty_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_converted == 0
    assert r.min_s is None and r.p50_s is None and r.max_s is None


@pytest.mark.parametrize(
    "mod_name, query",
    [
        # round-5 additions (0-row-output class)
        ("queries.forecast", "holt_trend_daily_events"),
        ("llm.curation", "rag_chunk_overlap_stats"),
        ("llm.text", "code_prose_detector"),
        ("llm.sampling", "epoch_shuffle_shards"),
        ("queries.skew", "selfjoin_size_estimate"),
        ("llm.clustering", "dedup_keep_best"),
        ("queries.profiling", "grouped_trimmed_mean_two_pass"),
        ("queries.advanced", "multi_touch_attribution"),
        ("queries.advanced", "bitwise_functions_events"),
    ],
)
def test_round5_empty_input_yields_empty_output(spark, empty_dir, mod_name, query):
    fn = all_queries()[query]
    assert fn.__module__ == f"rdbms_metadata_manager_spark.{mod_name}"
    df = fn(spark, empty_dir)
    assert df.count() == 0
    assert len(df.columns) > 0


def test_round5_summary_ops_survive_empty_corpus(spark, empty_dir):
    """Single-row-summary round-5 ops must return a sane row (or no
    row), never throw, on zero-row inputs."""
    from rdbms_metadata_manager_spark.llm.pii import t_closeness_audit
    from rdbms_metadata_manager_spark.queries.mining import diameter_double_sweep
    from rdbms_metadata_manager_spark.queries.profiling import exact_median_two_pass

    (m,) = exact_median_two_pass(spark, empty_dir).collect()
    assert (m.n_rows, m.k, m.median_cents) == (0, 0, None)

    (t,) = t_closeness_audit(spark, empty_dir).collect()
    assert t.n_classes == 0

    rows = diameter_double_sweep(spark, empty_dir).collect()
    assert len(rows) <= 1  # empty graph: at most a NULL-hub row

    from rdbms_metadata_manager_spark.queries.skew import bloom_filter_fpr_audit

    (b,) = bloom_filter_fpr_audit(spark, empty_dir).collect()
    assert (b.n_keys, b.bits_set, b.n_false_positives, b.fp_permille) == (0, 0, 0, 0)


def test_round6_one_row_reports_degrade_to_nulls(spark, empty_dir):
    """The round-6 global-report operators contract to ONE row of
    zero/NULL cells on an empty corpus (guarded divisions — never an
    ANSI divide-by-zero, never a driver-side TypeError from an empty
    histogram walk)."""
    from rdbms_metadata_manager_spark.queries.cohort import (
        ab_srm_check,
        mann_whitney_u_test,
        repeat_purchase_intervals,
        user_lifetime_quartiles,
    )
    from rdbms_metadata_manager_spark.queries.mining import degree_assortativity
    from rdbms_metadata_manager_spark.streaming.events_batch import (
        max_concurrent_sessions,
    )

    r = max_concurrent_sessions(spark, empty_dir).collect()
    assert len(r) == 1 and r[0].n_sessions == 0 and r[0].peak_at is None

    r = mann_whitney_u_test(spark, empty_dir).collect()
    assert len(r) == 1 and r[0].cle_permille is None

    r = ab_srm_check(spark, empty_dir).collect()
    assert len(r) == 1 and r[0].chi2_micro is None

    r = degree_assortativity(spark, empty_dir).collect()
    assert len(r) == 1 and r[0].n_edges == 0
    assert r[0].assortativity_permille is None

    r = user_lifetime_quartiles(spark, empty_dir).collect()
    assert len(r) == 1 and (r[0].n_users, r[0].median_days) == (0, None)

    r = repeat_purchase_intervals(spark, empty_dir).collect()
    assert len(r) == 1 and (r[0].n_gaps, r[0].median_days) == (0, None)
