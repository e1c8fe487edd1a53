"""Measured scaling of the heavy dedup/similarity kernels: 1x / 3x / 10x.

SCALE.md argues each kernel's cost is bounded by its shuffle volume
(inverted indexes with df caps, banding, cluster blocking). This
script MEASURES it: the sf0.1 corpus is replicated K times with
structure-preserving transforms, so the duplicate density per
replica is IDENTICAL to the original and the right answer scales
exactly linearly — any superlinear runtime is the plan's fault, not
the data's:

- documents: every token is renamed with a replica suffix
  (``tok`` → ``tok_rK``). Jaccard/containment/winnowing are
  invariant under token renaming, so each replica reproduces the
  original's near-dup pairs exactly and shares ZERO shingles across
  replicas — vocabulary and posting lists grow Kx, pair count grows
  exactly Kx.
- embeddings: each replica's vectors are circularly dimension-
  rotated by its replica index. Norms and intra-replica cosines are
  exactly preserved; cross-replica cosines decorrelate.

Usage: python scripts/scale_experiment.py [K ...]   (default: 3 10)
Writes replicas under /tmp/scale_exp/x<K>/ and prints one timing
table. Expected verdict: near-linear growth for the inverted-index
kernels (shuffle-bound), K^1 output rows.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from rdbms_metadata_manager_spark.queries.base import load
from rdbms_metadata_manager_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/scale_exp"

# Shuffle-bound kernels (df caps / banding / prefix pruning keep the
# candidate volume proportional to input): measured at every K.
TEXT_KERNELS = [
    "dedup_longest_shared_run",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_jaccard_prefix_filter",
    "dedup_containment",
    "text_winnow_fingerprints",
    "dedup_winnow_overlap",
    "dsir_importance_weights",
    # session-J additions: tf-cosine shares the renamed-token
    # invariance (per-replica tf vectors identical, zero cross-replica
    # words); edit-distance verify rides the Kx-grown pair list.
    "dedup_tf_cosine",
    "dedup_edit_distance_verify",
    # round-4: the cluster-keyed split rides the pair-list/CC memos;
    # token renaming preserves each replica's families exactly, so
    # output rows grow exactly Kx.
    "cluster_safe_split",
    # round-5: keeper selection rides the same families × the scorer
    # (renaming preserves scores per replica) — drop rows grow Kx.
    "dedup_keep_best",
]
# Embedding kernels block with FIXED parameters (K=8 clusters,
# 2^6 LSH buckets) pinned by their oracles; at fixed parameters the
# within-block pair volume grows quadratically, so these are
# measured only to 3x — the 100 TB deployment scales the parameter
# (K ∝ N as in the SemDeDup paper, more hyperplanes) instead.
EMB_KERNELS = [
    "dedup_embedding_cosine",
    "semdedup_embedding_clusters",
    "d4_prototype_prune",
    # round-4: within-bucket all-pairs label vote — quadratic per
    # bucket at fixed N_PLANES, same parameter-scaling story.
    "label_noise_knn_audit",
    # round-8: hubness is quadratic BY DEFINITION (every vector is a
    # query) — production runs it on a fixed-size sample; measured to
    # 3x to show the N^2 wall is the plan's declared shape.
    "ann_hubness_audit",
]
EMB_MAX_K = 3
# Graph kernel over lineitem: replicas offset BOTH l_orderkey and
# l_partkey, so the co-purchase graphs are disjoint — edge and
# triangle counts must grow exactly Kx, and the adjacency-
# intersection work is per-replica-local.
GRAPH_KERNELS = [
    "copurchase_triangles",
    "kcore_copurchase_parts",
    "local_clustering_coefficients",
    "ktruss_copurchase_edges",
]
# Kernels with CONSTANT-size output (a 2 080-row matrix / a top-20 /
# a fixed histogram): work grows with the input, output must not —
# wall should track K, rows must stay flat.
FIXED_OUTPUT_KERNELS = [
    "embedding_gram_matrix",
    "bpe_pair_merge_counts",
    "pmi_collocations",
    "ngram_novelty_curve",
    "dedup_cluster_size_histogram",
    # session-J fixed-output additions: ≤17-row calibration table,
    # 14 Zipf probes, 6 merges, top-20 χ² cells, |langs|² confusion
    # cells — work grows Kx, rows must stay flat.
    "minhash_estimate_calibration",
    "dedup_negative_control",
    "bpe_vocab_after_merges",
    "zipf_rank_frequency_audit",
    "bpe_train_merges",
    "source_signature_chisq",
    "language_id_confusion",
    # round-8 second-session additions: all bounded-row reports —
    # 1-row stats over calendar-bounded daily rollups (replicas keep
    # the day spine, per-day mass grows Kx), ≤11-bin calibration
    # tables, the 4-row layout report, |sources|²/2 = 190 Delta
    # pairs, 16 eval queries, 5 sketch rows. Work grows Kx in the
    # scan/rollup stage only; rows must stay flat.
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
    # round-9 additions: daily/weekly rollups (ljung-box, page,
    # grubbs), price-domain value histograms (cvm, bhattacharyya),
    # the length-domain grid (wasserstein), two TakeOrdered top-D
    # passes (rbo), and the token-keyed vocab rollup + range-kernel
    # rank (vocab gini — vocabulary grows Kx under the token-rename
    # replicas, the one genuinely growing relation).
    "cramer_von_mises_weekend",
    "bhattacharyya_weekend_overlap",
    "ljung_box_daily_events",
    "page_trend_weekly_events",
    "grubbs_outlier_daily_revenue",
    "wasserstein_source_length_drift",
    "rbo_scorer_rankings",
    "vocab_gini_concentration",
    # round-4 fixed-output additions: the query batches are the
    # original (un-offset) vec_ids, so only the corpus side grows —
    # 24 / 10 / 16 / 8 rows regardless of K.
    "matryoshka_truncation_recall",
    "similarity_binary_rerank",
    "retrieval_eval_metrics",
    "coreset_kcenter_sample",
    # round-5 fixed-output additions: per-source / per-type / 1-row
    # reports — corpus work grows Kx, rows stay flat (replicas keep
    # the original source/event_type values; events replicate with
    # offset user/event ids so per-user fanout stays bounded).
    "rag_chunk_overlap_stats",
    "code_prose_detector",
    "epoch_shuffle_shards",
    "exact_median_two_pass",
    "holt_trend_daily_events",
    "selfjoin_size_estimate",
    "multi_touch_attribution",
    "diameter_double_sweep",
    # round-6 fixed-output additions: 1-row / ≤|groups|-row reports.
    # Concurrency: replicas share the time axis, so the sweep-line
    # peak grows ~Kx while the delta relation grows exactly Kx; the
    # prefix kernel must stay shuffle-bound. Mann-Whitney: the value
    # rollup grows ≤Kx, midrank prefix rides the same kernel.
    # Assortativity: disjoint identical graph replicas pool to the
    # SAME r (both numerator terms scale K²) — output value is the
    # scale invariant itself. MAD: orders replicate with offset keys,
    # per-group medians invariant.
    "max_concurrent_sessions",
    "mann_whitney_u_test",
    "degree_assortativity",
    "grouped_mad_two_pass",
    # bounded outputs: 6 types / 8 k-probes / 15 type pairs
    "event_burstiness_fano",
    "rich_club_coefficient",
    "event_type_user_jaccard",
    # round-6 session-2 additions: ≤|groups|/1-row/42-cell/calendar-
    # bounded reports over orders+events. Replicas keep o_custkey,
    # so per-customer series grow Kx (KM gap multisets shift toward
    # 0-day events — the wall, not the value, is what's measured);
    # the statistical rollups (value ticks, daily spine, life table,
    # rank kernel) stay domain-bounded. HITS: user offsets keep
    # per-user degree constant, edges grow exactly Kx.
    # duplicate_payment_candidates is deliberately ABSENT: the order
    # replica transform copies each (custkey, cents, day) K times, so
    # duplicate DENSITY (not just volume) grows — pairs grow K² by
    # construction of the synthetic data, which measures the data
    # transform, not the plan (see SCALE.md).
    "kruskal_wallis_priority",
    "spearman_daily_rho",
    "kaplan_meier_repurchase",
    "gini_revenue_exact",
    "cohort_ltv_curve",
    "dow_hour_activity_residuals",
    "bipartite_hits_event_types",
    # 6 quantile probes over Kx lineitem ticks: two scans, 1-row
    # sketch relation; rows fixed at 6 (wilson_ci_return_rate needs
    # the part table the replica dirs don't carry — prose row only).
    "approx_percentile_rank_audit",
    # one user-keyed conditional rollup + a 1-row aggregate; 1 row out
    "cuped_adjusted_ab",
    # daily rollup + calendar-bounded chart rows; flat
    "spc_individuals_chart",
    # |days|^2 pair relation over the calendar-bounded daily rollup;
    # the pair count is constant in K (replicas share the day spine),
    # so the wall tracks the rollup scan only. 1 row out.
    "theil_sen_daily_trend",
    # rides the pair/CC/score memos; 3-row class report.
    "dedup_survivorship_audit",
    # one scan + 4-row spine; scan-bound, 4 rows out.
    "packing_bounds_curve",
    # same |days|^2 bounded pair join as theil_sen; 1 row out.
    "mann_kendall_trend_test",
    # one user-keyed flag rollup; 1 row out.
    "capture_recapture_users",
    # daily rollup + bounded sign sequence; 1 row out.
    "wald_wolfowitz_runs_test",
    # round-7 additions — all bounded reports:
    # permutation: the user rollup grows Kx (offset user ids keep
    # per-user sums), the fan-out stays x(P+1); 1 row out.
    "permutation_test_ab",
    # bootstrap: replicas share the day spine, so the 256-replicate
    # fan-out is CONSTANT in K — wall tracks the daily rollup scan.
    "bayesian_bootstrap_revenue_ci",
    # one map-side-combined aggregate; 1 row out.
    "anova_f_order_priority",
    # daily spine constant in K -> 8 lag rows, rollup-scan-bound.
    "daily_cross_correlation",
    # day spine constant in K; 1 row out.
    "conformal_forecast_intervals",
    # score histogram <= |docs| (token renaming shifts the features
    # per replica — the wall, not the value, is what's measured);
    # 1 row out. (bh_fdr_nation_drift needs customer+nation tables
    # the replica dirs don't carry — prose row in SCALE.md only.)
    "quality_scorer_auc",
    # per-source rollup; sources preserved across replicas; 1 row.
    "mix_effective_sample_size",
    # user rollup grows Kx, single-row MDE report.
    "ab_power_mde_report",
    # rides the memoized score relation; <=|sources| rows.
    "jackknife_source_sensitivity",
    # rank kernel over the Kx score relation; 10 decile rows.
    "gains_curve_scorer",
    # (cramers_v_nation_segment and cmh_return_rate_strata need the
    # customer table the replica dirs don't carry — prose rows in
    # SCALE.md only.)
    # two range-kernel passes over Kx orders; 32 bounded probe rows.
    "minmax_skipping_audit",
    # round-8 additions — all bounded reports:
    # day spine constant in K -> pair join constant; 1 row out.
    "kendall_tau_daily",
    # per-group median window + one aggregate over Kx orders; 1 row.
    "brown_forsythe_priority",
    # both ride the one _doc_features pass; 1 row out each.
    "mcnemar_scorer_disagreement",
    "cochran_q_scorer_battery",
    # calendar-bounded daily rollup, <=7-row windows; rows constant.
    "rolling_median_daily_revenue",
    # per-shard ranked replay over Kx events; 4 delay rows out.
    "watermark_lateness_audit",
    # daily rollup + in-row integer fold; <=|types| rows out.
    "cusum_control_chart",
    # 3-file stage + foreachBatch compaction over Kx lineitem;
    # state <= CAPACITY x levels per key, 3 report rows out.
    "streaming_quantile_state",
]
# |parts|-row labeling: output grows exactly Kx with the replica
# part-key offsets — rows must track K while per-row work stays flat.
LINEAR_OUTPUT_KERNELS = [
    "abc_inventory_classes",
    # round-8: systematic resample selects ~|docs|/5 rows (stride
    # rescales with W, so per-replica draws stay proportional);
    # rows must track K.
    "dsir_systematic_resample",
    # round-8: the streamed ingest's survivor list grows with the
    # 20% split (token renaming preserves each replica's band
    # collisions exactly, replicas share no shingles) — rows ~Kx.
    "stream_dedup_minhash_bands",
]

# versioned: v2 replicas added lineitem.parquet, v3 adds
# events.parquet, v4 adds orders.parquet; an old _done marker must
# not serve a dir that lacks the newer tables
_DONE = "_done_v4"

DOC_OFFSET = 10_000_000
VEC_OFFSET = 10_000_000


def build_replica_dir(spark, k: int) -> str:
    out = f"{OUT}/x{k}"
    if os.path.exists(f"{out}/{_DONE}"):
        return out
    docs = load(spark, BASE, "documents")
    embs = load(spark, BASE, "embeddings")
    doc_parts = []
    emb_parts = []
    for r in range(k):
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * DOC_OFFSET)).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1_r{r}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        dim = 64
        shift = r % dim
        rotated = (
            F.col("embedding")
            if shift == 0
            else F.concat(
                F.slice("embedding", shift + 1, dim - shift), F.slice("embedding", 1, shift)
            )
        )
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + F.lit(r * VEC_OFFSET)).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    e = emb_parts[0]
    for p in emb_parts[1:]:
        e = e.unionByName(p)
    d.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    e.repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    li = load(spark, BASE, "lineitem")
    li_parts = [
        li.select(
            (F.col("l_orderkey") + F.lit(r * DOC_OFFSET)).alias("l_orderkey"),
            (F.col("l_partkey") + F.lit(r * DOC_OFFSET)).alias("l_partkey"),
            *[c for c in li.columns if c not in ("l_orderkey", "l_partkey")],
        )
        for r in range(k)
    ]
    l = li_parts[0]
    for p in li_parts[1:]:
        l = l.unionByName(p)
    l.repartition(32).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    ev = load(spark, BASE, "events")
    ev_parts = [
        ev.select(
            (F.col("event_id") + F.lit(r * DOC_OFFSET)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(r * DOC_OFFSET)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for r in range(k)
    ]
    v = ev_parts[0]
    for p in ev_parts[1:]:
        v = v.unionByName(p)
    v.repartition(32).write.mode("overwrite").parquet(f"{out}/events.parquet")
    od = load(spark, BASE, "orders")
    od_parts = [
        od.select(
            (F.col("o_orderkey") + F.lit(r * DOC_OFFSET)).alias("o_orderkey"),
            *[c for c in od.columns if c != "o_orderkey"],
        )
        for r in range(k)
    ]
    o = od_parts[0]
    for p in od_parts[1:]:
        o = o.unionByName(p)
    o.repartition(32).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    open(f"{out}/{_DONE}", "w").close()
    return out


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [3, 10]
    spark = get_spark("scale-experiment")
    from rdbms_metadata_manager_spark.registry import all_queries

    qs = all_queries()
    bench.warm(spark, BASE)

    dirs = {1: BASE}
    for k in ks:
        dirs[k] = build_replica_dir(spark, k)

    print(f"{'kernel':34s} " + " ".join(f"{f'x{k} s':>9s} {f'x{k} rows':>9s}" for k in dirs))
    names = TEXT_KERNELS + EMB_KERNELS + GRAPH_KERNELS + FIXED_OUTPUT_KERNELS + LINEAR_OUTPUT_KERNELS
    only = os.environ.get("SCALE_KERNELS")
    if only:
        names = [n for n in names if n in only.split(",")]
    for name in names:
        cells = []
        for k, d in dirs.items():
            if name in EMB_KERNELS and k > EMB_MAX_K:
                cells.append(f"{'—':>9s} {'—':>9s}")
                continue
            # first run = COLD (includes any materialize-once memo
            # build for this corpus dir — the number that must scale);
            # second run = WARM (the memo-hit consumer path).
            times, rows = [], None
            for _ in range(2):
                t0 = time.time()
                out_df = qs[name](spark, d)
                if name == "copurchase_triangles":
                    rows = out_df.collect()[0].n_triangles
                elif name == "kcore_copurchase_parts":
                    rows = out_df.collect()[0].n_core_edges
                else:
                    rows = out_df.count()
                times.append(time.time() - t0)
            cells.append(f"{times[0]:5.1f}/{times[1]:5.1f} {rows:7d}")
        print(f"{name:34s} " + " ".join(cells))


if __name__ == "__main__":
    main()
