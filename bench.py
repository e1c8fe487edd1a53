#!/usr/bin/env python
"""Benchmark harness: `python bench.py [NAME ...]` times the named
queries (default: HEADLINE) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (`compact_line`) and writes BENCH_FULL.json:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <dir>, "cpus": ...,
   "driver_memory": ..., "ledger": {name: record, ...}}  (`time_queries`)
A query's plan: `python -m rdbms_metadata_manager_spark query NAME --explain`.

Each query materializes through the `noop` write format so the full
plan executes (a bare count() would let Catalyst prune projection
columns and under-report).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.procstat import cpu_counters, steal_fraction  # noqa: E402
from rdbms_metadata_manager_spark.registry import all_queries  # noqa: E402
from rdbms_metadata_manager_spark.session import driver_memory, get_spark, spark_cpus  # noqa: E402

# Representative headline set: one per operator family, weighted
# toward the scan/join/shuffle-heavy shapes that dominate at scale.
HEADLINE = [
    "schema_issues",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "revenue_by_region",
    "window_topn_orders_per_customer",
    "rollup_returnflag_status",
    "topk_orders",
    "json_event_props",
    "events_session_stats",
    "dedup_exact",
    # These two are whole-query session memos: after the cold pass each
    # timed sample reads the memo, so `cold_s` carries the kernel's cost.
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_ivf_search",
    "text_token_stats",
    "multimodal_features",
    "asof_join_last_click",
    "tfidf_top_terms",
    "salted_join_revenue",
    "q17_small_quantity_revenue",
    "q7_volume_shipping",
    "q10_returned_items",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "profile_orders_columns",
    "resample_events_hourly",
    "pack_training_sequences",
    "pagerank_trade_graph",
    "scd2_user_state_intervals",
    "entity_match_fuzzy_names",
    "cohort_retention",
    "embedding_quantize_int8",
    "variant_event_props",
    "recursive_balance_replay",
    "dedup_winnow_overlap",
    "text_winnow_fingerprints",
    "language_id_ngram",
    "pit_state_at_purchase",
    "knn_join_bruteforce",
    "hybrid_search_rrf",
    "copurchase_triangles",
    "dedup_jaccard_prefix_filter",
    "dedup_containment",
    "semdedup_embedding_clusters",
    "dsir_importance_weights",
    "embedding_gram_matrix",
    "bpe_pair_merge_counts",
    "dedup_longest_shared_run",
    "kcore_copurchase_parts",
    "hard_negative_mining",
    "embedding_random_projection",
    "shard_packing_nextfit",
    "lang_vocab_overlap_matrix",
    "benford_digit_audit",
    "label_centroid_separation",
    "kmeans_silhouette_report",
    "link_prediction_hub_cn",
    "boilerplate_ngram_report",
    "dedup_threshold_sweep",
    "local_clustering_coefficients",
    "ngram_novelty_curve",
    "dedup_cluster_size_histogram",
    "pq_adc_search",
    "ivfpq_residual_search",
    "gopher_repetition_profile",
    "autocorr_daily_events",
    "seasonal_decompose_daily",
    "minhash_estimate_calibration",
    "language_id_confusion",
    "zipf_rank_frequency_audit",
    "dedup_edit_distance_verify",
    "bpe_train_merges",
    "event_markov_transitions",
    "dedup_tf_cosine",
    "countmin_heavy_hitters",
    "source_signature_chisq",
    "dedup_negative_control",
    "bpe_vocab_after_merges",
    "ktruss_copurchase_edges",
    "embedding_pair_cosine_profile",
    "user_event_gap_histogram",
    "funnel_time_to_convert",
    "bitmap_distinct_users",
    "corpus_overview_report",
    "scan_structural_similarity",
    "similarity_mmr_rerank",
    "changepoint_daily_events",
    "tokenizer_fertility_report",
    "similarity_filtered_topk",
    "similarity_binary_rerank",
    "l_diversity_audit",
    "matryoshka_truncation_recall",
    "retrieval_eval_metrics",
    "label_noise_knn_audit",
    "coreset_kcenter_sample",
    "partition_layout_advisor",
    "join_strategy_advisor",
    "gdpr_erasure_audit",
    "cluster_safe_split",
    "user_activity_streaks",
    "dp_sensitivity_audit",
    "constraint_mining",
    "zorder_locality_report",
    "catalog_pii_risk_scan",
    "ab_test_aa_calibration",
    "weekly_revenue_wow",
    "holt_trend_daily_events",
    "rag_chunk_overlap_stats",
    "code_prose_detector",
    "epoch_shuffle_shards",
    "selfjoin_size_estimate",
    "pareto_revenue_concentration",
    "source_token_budget_cap",
    "t_closeness_audit",
    "dedup_keep_best",
    "exact_median_two_pass",
    "diameter_double_sweep",
    "multi_touch_attribution",
    "grouped_trimmed_mean_two_pass",
    "bloom_filter_fpr_audit",
    "max_concurrent_sessions",
    "mann_whitney_u_test",
    "degree_assortativity",
    "grouped_mad_two_pass",
    "event_burstiness_fano",
    "rich_club_coefficient",
    "recursive_cte_trade_reach",
    "event_type_user_jaccard",
    "fk_fanout_profile",
    "user_acquisition_curve",
    "user_lifetime_quartiles",
    "open_orders_backlog",
    "neyman_allocation_plan",
    "state_dwell_time_shares",
    "ab_srm_check",
    "repeat_purchase_intervals",
    "kruskal_wallis_priority",
    "spearman_daily_rho",
    "kaplan_meier_repurchase",
    "hhi_market_concentration",
    "cohort_ltv_curve",
    "dow_hour_activity_residuals",
    "fk_inclusion_discovery",
    "gini_revenue_exact",
    "duplicate_payment_candidates",
    "join_cardinality_audit",
    "bipartite_hits_event_types",
    "wilson_ci_return_rate",
    "approx_percentile_rank_audit",
    "formats_text_source_roundtrip",
    "cuped_adjusted_ab",
    "spc_individuals_chart",
    "abc_inventory_classes",
    "revenue_bridge_decomposition",
    "harmonic_centrality_trade",
    "lsh_band_planner",
    "theil_sen_daily_trend",
    "dedup_survivorship_audit",
    "packing_bounds_curve",
    "ivf_nprobe_recall_curve",
    "mann_kendall_trend_test",
    "capture_recapture_users",
    "wald_wolfowitz_runs_test",
    # round-7 additions
    "permutation_test_ab",
    "bayesian_bootstrap_revenue_ci",
    "anova_f_order_priority",
    "daily_cross_correlation",
    "conformal_forecast_intervals",
    "bh_fdr_nation_drift",
    "quality_scorer_auc",
    "mix_effective_sample_size",
    "cramers_v_nation_segment",
    "ab_power_mde_report",
    "jackknife_source_sensitivity",
    "gains_curve_scorer",
    "cmh_return_rate_strata",
    "minmax_skipping_audit",
    # round-8 additions (batch faces only: the two streaming faces
    # stage their own sources per call — real operators, wrong shape
    # for a steady-state-minimum benchmark)
    "kendall_tau_daily",
    "brown_forsythe_priority",
    "mcnemar_scorer_disagreement",
    "rolling_median_daily_revenue",
    "aqp_stratified_estimate",
    "watermark_lateness_audit",
    "ann_hubness_audit",
    "dsir_systematic_resample",
    "cochran_q_scorer_battery",
    "cusum_control_chart",
    # round-8 second-session batch: nonparametric/trend inference +
    # the forecast-calibration trio
    "friedman_daily_event_types",
    "jonckheere_terpstra_priority",
    "cochran_armitage_trend",
    "durbin_watson_daily",
    "welch_t_ab",
    "mood_median_test",
    "hodges_lehmann_shift",
    "brier_score_decomposition",
    "isotonic_calibration_pava",
    "average_precision_scorer",
    "granger_value_leads_volume",
    "kpss_level_daily",
    "seasonal_mann_kendall",
    "ansari_bradley_dispersion",
    "partial_corr_volume_value",
    "hilbert_curve_locality",
    "kmins_distinct_audit",
    "ndcg_at_10_eval",
    "burrows_delta_sources",
    # round-10 additions (additions-only per the bench contract): the
    # two IVF faces that were not yet benched — both ride the r10
    # label-centroid memo, so the round that changed them also starts
    # tracking them
    "ivf_cell_stats",
    "ivf_kmeans_search",
    # round-9 additions: distribution-shift battery + corpus-drift faces
    "cramer_von_mises_weekend",
    "bhattacharyya_weekend_overlap",
    "ljung_box_daily_events",
    "page_trend_weekly_events",
    "grubbs_outlier_daily_revenue",
    "wasserstein_source_length_drift",
    "rbo_scorer_rankings",
    "vocab_gini_concentration",
]


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm(spark, sf_dir: str) -> None:
    """Session bootstrap, so timings measure the queries: parquet
    reader, codegen, the broadcast-join machinery, and the Python
    worker pool (the first mapInPandas pays ~4s for 32 workers)."""
    import pandas as pd
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(100)
    tiny = spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["x"]}))
    materialize(li.join(F.broadcast(tiny), li["l_linenumber"] == tiny["k"], "left"))
    pool = spark.range(0, 64).repartition(spark_cpus())
    materialize(pool.mapInPandas(lambda it: it, "id long"))


def job_counts(sc, group: str, after: int = -1) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``,
    counting only the jobs whose id is above ``after``."""
    st = sc.statusTracker()
    jobs = [job for job in st.getJobIdsForGroup(group) if job > after]
    stages = tasks = 0
    for job in jobs:
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stages += 1
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), stages, tasks


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """The ledger: one record per query, every job of query X in job
    group ``bench:X``.

    First an untimed cold pass runs every query once (``cold_s``), so
    one-time costs — shared memos, JIT/codegen — land there and no
    timed sample carries them (BENCH_NOTES r8). All cold runs come
    before the first timed sample: a cold run just before its own
    samples read 1.24x slower (median min ratio over 12 queries, 3
    alternating pairs at local[4] on sf0.1), most of it in the fast
    queries.

    Then the steady-state minimum per query: the host has other
    tenants, so it samples until a run lands within 10% of the running
    min; fast queries converge at 2 samples, heavy ones (min > 2 s)
    need ≥4 and get up to 12 looks, since a PAIR of samples inflated
    by one swell is not convergence. A sample is build plus
    materialize; ``build_s`` is the fastest sample's build.
    ``jobs``/``stages``/``tasks`` count the last sample; ``steal`` is
    the host's CPU steal over the query's samples."""
    queries = all_queries()
    sc = spark.sparkContext
    ledger: dict[str, dict] = {}
    try:
        for name in names:
            sc.setLocalProperty("spark.jobGroup.id", f"bench:{name}")
            start = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            ledger[name] = {"cold_s": round(time.perf_counter() - start, 3)}
        for name in names:
            group = f"bench:{name}"
            sc.setLocalProperty("spark.jobGroup.id", group)
            samples: list[float] = []
            builds: list[float] = []
            cpu0 = cpu_counters()
            for _ in range(12):
                last_job = max(sc.statusTracker().getJobIdsForGroup(group), default=-1)
                start = time.perf_counter()
                df = queries[name](spark, sf_dir)
                builds.append(time.perf_counter() - start)
                materialize(df)
                samples.append(time.perf_counter() - start)
                # Converged = the newest sample is CLOSE TO but not still
                # MATERIALLY BELOW the running min: a monotonically
                # improving kernel keeps sampling (the r5 bench stopped at
                # 2-3 samples mid-warmup and recorded 1.2-1.5x inflated
                # "minimums" for 14 queries — BENCH_NOTES r6).
                prev_min = min(samples[:-1]) if len(samples) >= 2 else None
                converged = (
                    prev_min is not None
                    and samples[-1] <= prev_min * 1.10
                    and samples[-1] >= prev_min * 0.95
                )
                if converged and (min(samples) <= 2.0 or len(samples) >= 4):
                    break
                if min(samples) <= 2.0 and len(samples) >= 5:
                    break
            steal = steal_fraction(cpu0, cpu_counters())
            jobs, stages, tasks = job_counts(sc, group, after=last_job)
            ledger[name].update(
                samples=[round(t, 3) for t in samples],
                build_s=round(builds[samples.index(min(samples))], 3),
                jobs=jobs,
                stages=stages,
                tasks=tasks,
                steal=round(steal, 4),
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return ledger


def compact_line(full: dict, budget: int = 1900) -> str:
    """The stdout line: the driver keeps only the LAST 2000 bytes of
    stdout (r3's 86-query line overflowed it and parsed as null), so
    it carries the summary plus per-query timings, slowest first
    (what a round-over-round comparison needs), up to ``budget``."""
    timings = full["queries"]
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "sf": full["sf"],
        "n_queries": len(timings),
        "queries_full": "BENCH_FULL.json",
        "queries": {},
    }
    for name in sorted(timings, key=timings.get, reverse=True):
        compact["queries"][name] = timings[name]
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][name]
            break
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    names, known = sys.argv[1:] or HEADLINE, all_queries()
    unknown = [name for name in names if name not in known]
    if unknown:
        sys.exit(f"bench.py: unknown queries: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    warm(spark, sf_dir)
    ledger = time_queries(spark, sf_dir, names)
    timings = {name: min(rec["samples"]) for name, rec in ledger.items()}
    full = {
        "metric": "headline_query_sec_total_steady_state_min",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": spark_cpus(),
        "driver_memory": driver_memory(),
        "ledger": ledger,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    print(compact_line(full))


if __name__ == "__main__":
    main()
