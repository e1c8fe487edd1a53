"""Plan-quality regression tests: the physical plans must keep the
properties that make these queries scale — pushed filters, pruned
columns, broadcast dims, whole-stage codegen, no stray shuffles.
Catching a regression here is catching a 100×-at-scale slowdown at
test time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.queries import advanced, relational
from rdbms_metadata_manager_spark.queries.base import load


def physical_plan(df, execute: bool = False) -> str:
    if execute:
        # collect() (not a separate write, which builds its own
        # QueryExecution) finalizes THIS Dataset's adaptive plan;
        # codegen'd spans then carry the `*(n)` marker.
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_orderkey", "l_quantity"
    )
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    # ReadSchema must contain ONLY the projected columns
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, read_schema


def test_q5_broadcasts_tiny_dims(spark, sf_dir):
    plan = physical_plan(relational.q5_local_supplier_volume(spark, sf_dir))
    # region (5 rows) and nation (25 rows) must be broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q1_uses_whole_stage_codegen_and_partial_agg(spark, sf_dir):
    plan = physical_plan(relational.q1_pricing_summary(spark, sf_dir), execute=True)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan, f"no whole-stage-codegen spans:\n{plan}"
    # map-side combine: partial aggregate before the exchange
    assert "partial_sum" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_topk_is_take_ordered_not_full_sort(spark, sf_dir):
    plan = physical_plan(relational.topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_anti_join_is_broadcast_left_anti(spark, sf_dir):
    plan = physical_plan(
        relational.anti_join_customers_without_orders(spark, sf_dir)
    )
    assert "LeftAnti" in plan, plan


def test_projection_only_queries_have_no_exchange(spark, sf_dir):
    """Pure per-row queries must not shuffle (except an explicit
    display sort, which TakeOrdered/Sort handles after AQE)."""
    df = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n")
    )
    assert "Exchange" not in physical_plan(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join must shuffle exactly once on user_id (the
    repartition), not per window/filter step."""
    plan = physical_plan(advanced.asof_join_last_click(spark, sf_dir))
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1, f"expected 1 hash exchange, got {n_shuffles}:\n{plan}"


# --- tpch_rest plan shapes -------------------------------------------------

def test_q7_broadcasts_both_nation_lookups(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries import tpch_rest

    plan = physical_plan(tpch_rest.q7_volume_shipping(spark, sf_dir))
    # both explicit nation broadcasts survive into the physical plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q10_limit_is_take_ordered(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries import tpch_rest

    plan = physical_plan(tpch_rest.q10_returned_items(spark, sf_dir))
    # ORDER BY ... LIMIT 20 must be per-partition top-k + merge,
    # never a full global sort
    assert "TakeOrderedAndProject" in plan, plan
    # the returnflag and date filters reach the parquet scans
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_q11_scalar_total_is_broadcast_not_shuffle(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries import tpch_rest

    plan = physical_plan(tpch_rest.q11_part_value_concentration(spark, sf_dir))
    # the 1-row global total joins via broadcast nested loop, and the
    # per-part aggregate keeps map-side partials
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_sum" in plan, plan


def test_q4_and_q20_are_semi_joins(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries import tpch_rest

    assert "LeftSemi" in physical_plan(tpch_rest.q4_priority_late_ship(spark, sf_dir))
    assert "LeftSemi" in physical_plan(tpch_rest.q20_heavy_red_suppliers(spark, sf_dir))


def test_decontamination_broadcasts_test_shingles(spark, sf_dir):
    """The benchmark/test side must broadcast — at 100 TB the train
    side can never afford a shuffle for this join."""
    from rdbms_metadata_manager_spark.llm.hygiene import decontaminate_train_test

    plan = physical_plan(decontaminate_train_test(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_broadcasts_rate_table(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.sampling import sample_stratified_lang

    plan = physical_plan(sample_stratified_lang(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_split_assignment_is_shuffle_free(spark, sf_dir):
    """Hash-split is a pure projection: no Exchange except the
    display sort."""
    from rdbms_metadata_manager_spark.llm.sampling import split_train_val_test

    plan = physical_plan(split_train_val_test(spark, sf_dir))
    body = plan.split("Sort [doc_id")[-1]  # everything under the display sort
    assert "Exchange hashpartitioning" not in body, plan


def test_packing_shuffles_once_on_stream_key(spark, sf_dir):
    """One hash exchange (the lang window) + the display range sort;
    anything more means the window re-partitioned."""
    from rdbms_metadata_manager_spark.llm.sampling import pack_training_sequences

    plan = physical_plan(pack_training_sequences(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_profile_keeps_counts_in_hash_aggregate(spark, sf_dir):
    """The Expand-multiplied distinct stream must stay in codegen'd
    HashAggregate; only the 2 varchar min/max ride the interpreted
    SortAggregate, over a scan pruned to those 2 columns."""
    from rdbms_metadata_manager_spark.queries.profiling import profile_orders_columns

    plan = physical_plan(profile_orders_columns(spark, sf_dir))
    assert "Expand" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    read_schemas = [
        seg.split("\n")[0] for seg in plan.split("ReadSchema: ")[1:]
    ]
    assert any(
        "o_orderstatus" in rs and "o_orderkey" not in rs for rs in read_schemas
    ), f"varchar-side scan not pruned:\n{read_schemas}"


def test_histogram_bounds_are_broadcast(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.profiling import histogram_order_values

    plan = physical_plan(histogram_order_values(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "partial_count" in plan, plan  # map-side combine on the bins


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Joining a lang-partitioned fact with a filtered file-backed dim
    must inject a dynamic-pruning subquery into the fact scan — at
    100 TB this is the difference between scanning one partition and
    scanning the corpus. (useStats is disabled because the rule's
    benefit estimate refuses at toy scale; the dim must be file-backed
    — a LocalRelation constant-folds the filter away and disqualifies
    the pruning side.)"""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    docs.write.partitionBy("lang").parquet(str(tmp_path / "fact"))
    spark.createDataFrame(
        pd.DataFrame({"lang": ["en", "de", "fr", "es", "zh"], "keep": [1, 0, 0, 0, 0]})
    ).write.parquet(str(tmp_path / "dim"))
    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("keep") == 1)
        joined = fact.join(dim, "lang").select("doc_id", "lang")
        plan = physical_plan(joined)
        assert "dynamicpruning" in plan.lower(), plan
        assert joined.count() == docs.filter(F.col("lang") == "en").count()
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", old)


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """When the dim side of a shuffle join carries a selective filter,
    Spark must inject a bloom-filter runtime filter (might_contain) on
    the fact side — rows that can't join die before the exchange. The
    application-side size threshold (10 GB default) is zeroed because
    the gate is sized for real clusters, not sf0.001."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            "l_orderkey", "l_quantity"
        )
        plan = physical_plan(joined)
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_scd2_reuses_one_hash_exchange(spark, sf_dir):
    """The gaps-and-islands pipeline (2 windows + run aggregate +
    lead) must all ride ONE user_id hash exchange — the partial/final
    aggregate pair needs no exchange because user_id prefixes the
    grouping key. Only the presentation orderBy adds a range
    exchange."""
    from rdbms_metadata_manager_spark.queries.scd import scd2_user_state_intervals

    plan = physical_plan(scd2_user_state_intervals(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_heavy_hitters_plan_take_ordered(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.skew import heavy_hitter_users

    plan = physical_plan(heavy_hitter_users(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan  # map-side combine before the heap


def test_analyzed_table_stats_drive_auto_broadcast(spark, sf_dir):
    """ANALYZE TABLE statistics must flow into join planning: after
    COMPUTE STATISTICS the catalog size estimate (not a file-size
    guess) qualifies the dim for auto-broadcast with NO explicit
    hint. On a real cluster this is how nightly-analyzed dims keep
    100 TB fact joins broadcast-shaped without hand-placed hints."""
    spark.sql("DROP TABLE IF EXISTS dim_customer_stats")
    load(spark, sf_dir, "customer").write.saveAsTable("dim_customer_stats")
    try:
        spark.sql("ANALYZE TABLE dim_customer_stats COMPUTE STATISTICS")
        stats = spark.sql("DESCRIBE EXTENDED dim_customer_stats").filter(
            "col_name = 'Statistics'"
        )
        assert stats.count() == 1  # catalog carries the analyzed size
        dim = spark.table("dim_customer_stats")
        orders = load(spark, sf_dir, "orders")
        joined = orders.join(dim, orders["o_custkey"] == dim["c_custkey"]).select(
            "o_orderkey", "c_name"
        )
        plan = physical_plan(joined)
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS dim_customer_stats")


def test_lateral_topn_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL ORDER BY/LIMIT subquery must decorrelate
    into a ranked window with group-limit pushdown plus a broadcast
    join — NOT a per-group nested-loop re-execution."""
    from rdbms_metadata_manager_spark.queries.modern import (
        lateral_top_customers_per_nation,
    )

    plan = physical_plan(lateral_top_customers_per_nation(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_winnow_overlap_kernel_is_arrow_batched(spark, sf_dir):
    """The fingerprint kernel must run as one Arrow-batched python
    eval (no row-at-a-time BatchEvalPython). Since the session-G
    materialize-once memo, the kernel executes when the fingerprint
    relation is checkpointed — so pin it on the PRE-checkpoint
    lineage — and the overlap join plan (reading checkpoint blocks)
    keeps its no-cartesian / no-python-eval shape."""
    from rdbms_metadata_manager_spark.llm.fingerprint import (
        _fingerprints,
        dedup_winnow_overlap,
    )
    from rdbms_metadata_manager_spark.queries.base import load_spread

    kernel_plan = physical_plan(_fingerprints(load_spread(spark, sf_dir, "documents", "doc_id")))
    assert "ArrowEvalPython" in kernel_plan, kernel_plan
    assert "BatchEvalPython" not in kernel_plan, kernel_plan

    plan = physical_plan(dedup_winnow_overlap(spark, sf_dir))
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_language_id_profile_is_broadcast(spark, sf_dir):
    """The trained trigram profile must broadcast to the classify join
    (the corpus side never shuffles on gram)."""
    from rdbms_metadata_manager_spark.llm.text import language_id_ngram

    plan = physical_plan(language_id_ngram(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_event_paths_single_window_shuffle_and_takeordered(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.cohort import event_path_trigrams

    plan = physical_plan(event_path_trigrams(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # one user_id exchange feeds both lead() windows; the count agg is
    # map-side combined (partial before its exchange)
    assert plan.count("Window") == 1, plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_knn_join_pushes_rank_limit_below_window(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.similarity import knn_join_bruteforce

    plan = physical_plan(knn_join_bruteforce(spark, sf_dir))
    # rank <= K is evaluated as a group-limit during the window scan,
    # not as a filter over fully-ranked output
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan, plan  # query batch broadcasts


def test_pit_lookup_joins_on_user_equality_not_pure_theta(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.scd import pit_state_at_purchase

    plan = physical_plan(pit_state_at_purchase(spark, sf_dir))
    # the containment predicates ride on a user_id equi-join (hash or
    # sort-merge depending on AQE sizing) — never a nested-loop over
    # the full cross space
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hybrid_rrf_legs_are_takeordered_not_global_sort(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.similarity import hybrid_search_rrf

    plan = physical_plan(hybrid_search_rrf(spark, sf_dir))
    # both retrieval legs keep their top-50 via per-partition heaps;
    # the only windows run over the constant-sized leg outputs
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_skyline_frontier_is_broadcast_no_cartesian(spark, sf_dir):
    """The skyline must stay per-axis-reduction shaped: tiny frontier
    broadcast back, and NO quadratic dominance join anywhere."""
    from rdbms_metadata_manager_spark.queries.mining import skyline_customers

    plan = physical_plan(skyline_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_prefix_filter_join_is_sort_merge_no_cartesian(spark, sf_dir):
    """Candidate generation must be an equi-join on the prefix token
    (sort-merge by hint), never a cross product."""
    from rdbms_metadata_manager_spark.llm.dedup import dedup_jaccard_prefix_filter

    plan = physical_plan(dedup_jaccard_prefix_filter(spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_parameterized_query_pushes_bound_literal_and_takeordered(spark, sf_dir):
    """Named parameters must bind as literals early enough for the
    event_type predicate to reach the parquet scan, and LIMIT must
    compile to TakeOrderedAndProject."""
    from rdbms_metadata_manager_spark.queries.modern import (
        parameterized_top_purchasers,
    )

    plan = physical_plan(parameterized_top_purchasers(spark, sf_dir))
    assert "EqualTo(event_type,purchase)" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_wau_is_single_distinct_pipeline_no_join_per_day(spark, sf_dir):
    """The rolling-distinct curve must be the explode shape — no
    per-day self-join (a LEFT/range join here would be the quadratic
    formulation), only the bounds broadcast."""
    from rdbms_metadata_manager_spark.queries.cohort import rolling_7d_active_users

    plan = physical_plan(rolling_7d_active_users(spark, sf_dir))
    assert "Generate explode" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange's subtree from a plan-tree toString
    (child lines are the following lines whose node-name starts
    strictly deeper in the gutter)."""
    import re

    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        m = re.search(r"BroadcastExchange", ln)
        if not m:
            continue
        depth = m.start()
        sub = []
        for nxt in lines[i + 1 :]:
            body = re.sub(r"^[:+\- ]*", "", nxt)
            ind = len(nxt) - len(body)
            if body and ind <= depth:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_semdedup_pair_stage_is_codegen_no_cartesian(spark, sf_dir):
    """The within-cluster pair stage must be the per-cluster ARROW
    matmul kernel (one grouped FlatMapGroupsInPandas — the measured
    winner over both the interpreted HOF cosine and the relational
    posexplode join), never a cartesian/nested-loop pair join
    carrying full vectors. Verify joins broadcast the CANDIDATE side
    only: no corpus-sized relation may sit on a build side (VERDICT
    r4 #2) — every BroadcastExchange subtree must contain the
    candidate kernel or a join above it, never a bare embeddings
    scan."""
    from rdbms_metadata_manager_spark.llm.semdedup import semdedup_embedding_clusters

    # Pin auto-broadcast OFF so the plan shows only the EXPLICIT
    # broadcast hints — at sf0.001 Catalyst's stats otherwise also
    # auto-broadcast the tiny dims side (fine at test scale, never
    # chosen at 100 TB), which is not what this test is about.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(semdedup_embedding_clusters(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan  # per-cluster Arrow pair kernel
    assert "BroadcastHashJoin" in plan, plan
    subs = _broadcast_subtrees(plan)
    assert subs, plan
    for sub in subs:
        # hinted build side is cand (the per-cluster Arrow pair
        # kernel) or cand_a (a join above it) — never a bare corpus
        # relation (no parquet scan may sit directly under a
        # broadcast without the candidate kernel/join above it)
        assert "FlatMapGroupsInPandas" in sub or "Join" in sub, plan


def test_dsir_is_two_token_keyed_shuffles_with_partial_aggs(spark, sf_dir):
    """DSIR must stay the df-from-tf shape: tokens roll up map-side
    (partial counts before every exchange) and the vocab joins back
    on the token key — no collect-to-driver, no cross join."""
    from rdbms_metadata_manager_spark.llm.curation import dsir_importance_weights

    plan = physical_plan(dsir_importance_weights(spark, sf_dir))
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_cell_partitioned_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """SCALE.md's IVF claim — 'cell assignment is the write-time
    partition key; a query touches nprobe/K of the data' — made
    literal: materialize the assignment partitioned by cell, probe
    two cells, and the scan must show PartitionFilters with only the
    probed directories surviving."""
    from pyspark.sql import functions as F

    from rdbms_metadata_manager_spark.llm.ivf import _assignments, _centroid_arrays
    from rdbms_metadata_manager_spark.queries.base import load_spread

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = _assignments(emb, _centroid_arrays(emb))
    out = str(tmp_path / "ivf_cells")
    assigned.select("vec_id", "cell").write.partitionBy("cell").parquet(out)

    probed = spark.read.parquet(out).filter(F.col("cell").isin(0, 1))
    plan = physical_plan(probed)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:80], plan
    n_cells = assigned.select("cell").distinct().count()
    assert probed.select("cell").distinct().count() <= min(2, n_cells)
    # pruned scan reads only the probed fraction of rows
    total = assigned.count()
    assert probed.count() < total


def test_triangle_count_has_no_wedge_join(spark, sf_dir):
    """The triangle kernel enumerates via adjacency-array
    intersection: no semi-join closing a materialized wedge set, and
    the two adjacency probes are broadcast hash joins (O(E) rows in
    flight, never O(wedges)). The count query itself must read the
    memoized triple relation (ExistingRDD), not re-enumerate."""
    from rdbms_metadata_manager_spark.queries import mining

    kernel = mining._edge_triangle_triples(mining._copurchase_edges(spark, sf_dir))
    kplan = physical_plan(kernel)
    assert "LeftSemi" not in kplan, kplan
    assert "array_intersect" in kplan, kplan
    assert "BroadcastHashJoin" in kplan, kplan
    assert "CartesianProduct" not in kplan, kplan

    plan = physical_plan(mining.copurchase_triangles(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert ".parquet" not in plan, plan


def test_d4_prune_is_one_broadcast_and_one_cluster_window(spark, sf_dir):
    """d4_prototype_prune adds NO pairwise stage on top of the
    trainer: one broadcast join to the K centroids and windows over
    the cluster key only."""
    from rdbms_metadata_manager_spark.llm.semdedup import d4_prototype_prune

    plan = physical_plan(d4_prototype_prune(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gram_matrix_is_one_arrow_stage_and_constant_shuffle(spark, sf_dir):
    """The Gram fold must be the vectorized-partial shape: one
    MapInPandas stage producing upper-triangle partials, map-side
    partial_sum before the single (dim_i, dim_j) hash shuffle — the
    shuffle payload is 2 080 rows per task regardless of input size."""
    from rdbms_metadata_manager_spark.llm.gram import embedding_gram_matrix

    plan = physical_plan(embedding_gram_matrix(spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange hashpartitioning(dim_i") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_counts_on_dictionary_not_corpus(spark, sf_dir):
    """The Zipf trick must be visible in the plan: the adjacent-pair
    Generate sits ABOVE the word-count aggregate (pairs explode the
    dictionary, not the corpus), both aggregates partial map-side,
    and the top-20 compiles to TakeOrderedAndProject (no global
    sort)."""
    from rdbms_metadata_manager_spark.llm.bpe import bpe_pair_merge_counts

    plan = physical_plan(bpe_pair_merge_counts(spark, sf_dir))
    assert "TakeOrderedAndProject(limit=20" in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    pair_gen = plan.index("Generate explode(sequence")
    word_agg = plan.index("Exchange hashpartitioning(w#")
    assert pair_gen < word_agg, "pair explode must consume the aggregated dictionary"


def test_vocab_oov_vocab_fit_is_take_ordered_and_probe_is_broadcast(spark, sf_dir):
    """The top-V vocabulary must compile to TakeOrderedAndProject
    (never a global sort of the word counts) and the V-row probe to a
    broadcast join; the token scan must prune to (doc_id, text)."""
    from rdbms_metadata_manager_spark.llm.text import vocab_oov_rate

    plan = physical_plan(vocab_oov_rate(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" in read_schema and "lang" not in read_schema, read_schema


def test_cogroup_ks_shuffles_each_side_once(spark, sf_dir):
    """Cogroup = one exchange per side on the key (plus the display
    sort), and the scans must prune to (nationkey, acctbal)."""
    from rdbms_metadata_manager_spark.queries.cogroup import cogroup_balance_ks

    plan = physical_plan(cogroup_balance_ks(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan, plan
    # tree strings print root-first: text ABOVE the operator line is
    # downstream of the kernel (display sort only — no hash
    # exchange), text BELOW is the input side (exactly one hash
    # exchange per cogrouped relation). Split so a stray post-kernel
    # repartition can't mask a missing input-side exchange.
    downstream = plan.split("FlatMapCoGroups")[0] if "FlatMapCoGroups" in plan else plan
    assert downstream.count("Exchange hashpartitioning") == 0, downstream
    feeding = plan[len(downstream):]
    assert feeding.count("Exchange hashpartitioning") == 2, feeding
    for rs in plan.split("ReadSchema: ")[1:]:
        line = rs.split("\n")[0]
        assert "name" not in line and "address" not in line, line


def test_dim_stats_is_single_exchange_arrow_kernel(spark, sf_dir):
    """The per-dim health report: exactly ONE hash exchange (on dim)
    feeding the grouped Arrow kernel — the whole point of leaving the
    relational percentile_disc form."""
    from rdbms_metadata_manager_spark.llm.projection import embedding_dim_robust_stats

    plan = physical_plan(embedding_dim_robust_stats(spark, sf_dir))
    assert "FlatMapGroupsInArrow" in plan or "MapGroupsInArrow" in plan or "InArrow" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortAggregate" not in plan, plan


def test_pmi_broadcasts_counts_and_takes_ordered_topk(spark, sf_dir):
    """PMI: unigram counts and totals must be broadcast (tiny
    relations), and the top-k must plan as TakeOrderedAndProject —
    never a global sort of the full pair relation."""
    from rdbms_metadata_manager_spark.llm.text import pmi_collocations

    plan = physical_plan(pmi_collocations(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_threshold_sweep_reads_memo_not_parquet(spark, sf_dir):
    """The sweep must scan the materialized candidate relation
    (localCheckpoint → RDD scan), not re-run the inverted-index join
    from the parquet corpus — the cached-candidate-table design."""
    from rdbms_metadata_manager_spark.llm.dedup import (
        _capped_pair_counts,
        dedup_threshold_sweep,
    )

    _capped_pair_counts(spark, sf_dir)  # warm the memo
    plan = physical_plan(dedup_threshold_sweep(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert "documents.parquet" not in plan, plan


def test_length_histogram_partial_aggregates_single_scan(spark, sf_dir):
    """One pruned corpus scan, map-side partial agg before the
    8-group exchange."""
    from rdbms_metadata_manager_spark.llm.sampling import sequence_length_histogram

    plan = physical_plan(sequence_length_histogram(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Scan parquet") == 1, plan
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" in read_schema and "lang" not in read_schema, read_schema


def test_norm_bands_folds_vectors_once(spark, sf_dir):
    """The final plan must read the materialized deviation relation
    (RDD scan), never re-fold the raw vectors per stats branch: one
    1-row MAD broadcast, zero parquet scans."""
    from rdbms_metadata_manager_spark.llm.projection import embedding_norm_outlier_bands

    plan = physical_plan(embedding_norm_outlier_bands(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan  # the 1-row MAD
    assert "Scan ExistingRDD" in plan, plan
    assert "embeddings.parquet" not in plan, plan


def test_chunk_rewrite_ranking_shuffle_carries_no_text(spark, sf_dir):
    """The keep-first ranking must ship (doc_id, ord, md5) through the
    chunk-hash exchange — never chunk or document text — and Catalyst
    must apply the rank<=1 WindowGroupLimit map-side, so the sort
    input is pre-shrunk to one candidate row per (hash, partition)."""
    from rdbms_metadata_manager_spark.llm.curation import chunk_dedup_rewrite

    plan = physical_plan(chunk_dedup_rewrite(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    window_block = plan.split("Window [row_number()")[1]
    exchange_line = next(
        line for line in window_block.splitlines() if "hashpartitioning(chunk_hash" in line
    )
    assert "text" not in exchange_line, exchange_line
    # reconstruction joins the kept ordinals back on doc_id; the kept
    # side is tiny per-doc arrays, so it must broadcast at test SFs
    assert "BroadcastHashJoin" in plan, plan


def test_sql_tvf_lateral_decorrelates_to_one_scan(spark, sf_dir):
    """The correlated SQL table function must NOT replay its body per
    outer row: one customer scan, the body's ORDER-BY-all row_number
    decorrelated into a partition-by-nationkey window, and one
    broadcast join with nation."""
    from rdbms_metadata_manager_spark.queries.modern import (
        sql_tvf_top_customers_per_nation,
    )

    plan = physical_plan(sql_tvf_top_customers_per_nation(spark, sf_dir))
    assert plan.count("customer.parquet") == 1, plan
    assert "[c_nationkey" in plan.split("Window [row_number()")[1].splitlines()[0], plan
    assert "BroadcastHashJoin" in plan, plan


def test_daily_series_queries_scan_events_once(spark, sf_dir):
    """The ACF and the seasonal decomposition must stay single-lineage:
    the spine-join form re-derived the daily rollup per branch (2-3
    full events scans for a days-long result); the lead()-window form
    keeps exactly ONE parquet scan in the plan."""
    from rdbms_metadata_manager_spark.queries.forecast import (
        autocorr_daily_events,
        seasonal_decompose_daily,
    )

    for q in (autocorr_daily_events, seasonal_decompose_daily):
        plan = physical_plan(q(spark, sf_dir))
        assert plan.count("events.parquet") == 1, (q.__name__, plan)


def test_markov_row_totals_reuse_cell_aggregate(spark, sf_dir):
    """event_markov_transitions: one events scan, one user_id window,
    and the row-conditional totals from a window over the tiny cell
    matrix — NOT a second scan/aggregation of the events."""
    from rdbms_metadata_manager_spark.queries.cohort import event_markov_transitions

    plan = physical_plan(event_markov_transitions(spark, sf_dir))
    assert plan.count("events.parquet") == 1, plan
    assert "partial_count" in plan, plan  # map-side combine on the cells


def test_zipf_rank_rides_partitioned_range_kernel(spark, sf_dir):
    """zipf_rank_frequency_audit on the two-pass range kernel: the
    bulk rank window must be PARTITIONED by the range id (never the
    unpartitioned global sort the kernel replaced), the B-row offsets
    must broadcast, and the 14-probe INSET filter must push into the
    offset join (before any post-rank shuffle). The vocabulary rollup
    lives inside the kernel's frozen-pid checkpoint, so the plan
    starts from an ExistingRDD scan rather than the parquet scan."""
    from rdbms_metadata_manager_spark.llm.text import zipf_rank_frequency_audit

    plan = physical_plan(zipf_rank_frequency_audit(spark, sf_dir))
    assert "windowspecdefinition(_pid" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "INSET" in plan, plan
    assert "ExistingRDD" in plan, plan
    # no unpartitioned window anywhere in this plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        head = m.group(1).split(",")[0]
        assert ("ASC" not in head) and ("DESC" not in head), (
            "unpartitioned window: " + m.group(0)
        )


def test_edit_distance_verify_reads_pair_memo_not_shingles(spark, sf_dir):
    """dedup_edit_distance_verify must start from the materialized
    Jaccard pair list (an ExistingRDD scan), not re-run the
    inverted-index self-join: the only parquet scans are the two
    2-column text join-backs (a-side and b-side, both broadcast), and
    no shingle hashing appears in the plan."""
    from rdbms_metadata_manager_spark.llm import dedup

    dedup.dedup_ngram_jaccard(spark, sf_dir)  # ensure memo built
    plan = physical_plan(dedup.dedup_edit_distance_verify(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("documents.parquet") == 2, plan
    assert "md5" not in plan, plan
    assert "levenshtein" in plan, plan


def test_minhash_calibration_is_one_pass_over_stats_memo(spark, sf_dir):
    """minhash_estimate_calibration runs on the checkpointed
    candidate-stats relation: no parquet scan at all in its plan, one
    map-side-combined aggregation."""
    from rdbms_metadata_manager_spark.llm import dedup

    dedup.dedup_minhash_lsh(spark, sf_dir)  # builds the shared memo
    plan = physical_plan(dedup.minhash_estimate_calibration(spark, sf_dir))
    assert ".parquet" not in plan, plan
    assert "partial_count" in plan, plan


def test_tf_cosine_joins_the_memoized_tf_relation(spark, sf_dir):
    """dedup_tf_cosine must read the checkpointed tf relation (no
    parquet scan, no md5 in the plan) and run the posting-list
    self-join as the hinted sort-merge join — a broadcast build of a
    corpus-sized posting list would serialize on the driver."""
    from rdbms_metadata_manager_spark.llm import dedup

    dedup.dedup_tf_cosine(spark, sf_dir)  # builds the memo
    plan = physical_plan(dedup.dedup_tf_cosine(spark, sf_dir))
    assert ".parquet" not in plan, plan
    assert "md5" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_countmin_topk_is_take_ordered_and_cells_broadcast(spark, sf_dir):
    """countmin_heavy_hitters: the exact top-K must plan as
    TakeOrderedAndProject (never a global sort) and the 1024-cell
    grid must be the broadcast side of the probe join."""
    from rdbms_metadata_manager_spark.queries.skew import countmin_heavy_hitters

    plan = physical_plan(countmin_heavy_hitters(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scan_similarity_rides_memos_take_ordered_no_smj(spark, sf_dir):
    """scan_structural_similarity: supports come from the memoized
    triangle triples and degrees from the memoized edge list (both
    ExistingRDD scans — no parquet rescan), every join is broadcast
    (degree relation is node-sized), and the top-K cut compiles to
    TakeOrderedAndProject, never a global sort."""
    from rdbms_metadata_manager_spark.queries.mining import (
        scan_structural_similarity,
    )

    plan = physical_plan(scan_structural_similarity(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_changepoint_is_one_rollup_single_lineage(spark, sf_dir):
    """changepoint_daily_events: exactly ONE events parquet scan —
    prefix sums AND grand totals ride the same full-frame window
    pass (a totals-aggregate + crossJoin shape would re-derive the
    series and scan events twice); candidate cut is
    TakeOrderedAndProject."""
    from rdbms_metadata_manager_spark.queries.forecast import (
        changepoint_daily_events,
    )

    plan = physical_plan(changepoint_daily_events(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_filtered_topk_pushes_label_predicate_to_scan(spark, sf_dir):
    """similarity_filtered_topk: the label filter must reach the
    parquet reader as a pushed filter (pre-filtering — scoring never
    sees non-matching rows) and the cut must be
    TakeOrderedAndProject."""
    from rdbms_metadata_manager_spark.llm.similarity import (
        similarity_filtered_topk,
    )

    plan = physical_plan(similarity_filtered_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("label" in p.lower() and "EqualTo" in p for p in pushed), pushed


def test_binary_rerank_plan_is_two_heaps_over_one_broadcast(spark, sf_dir):
    """similarity_binary_rerank: both cuts must be per-partition heaps
    (TakeOrderedAndProject ×2 — Hamming candidates, cosine rerank),
    the 1-row query side a broadcast, and the corpus-side vec_id
    predicate pushed to the scan."""
    from rdbms_metadata_manager_spark.llm.quantize import similarity_binary_rerank

    plan = physical_plan(similarity_binary_rerank(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") == 2, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "Not(EqualTo(vec_id,0))" in plan, plan
    assert "Sort " not in plan, plan  # no global sort anywhere


def test_matryoshka_aggregates_once_behind_checkpoint(spark, sf_dir):
    """matryoshka_truncation_recall: the 12-sum pair aggregation must
    be planned ONCE — the picks relation is a checkpoint barrier, so
    the final plan reads a scan (ExistingRDD/Scan) twice instead of
    duplicating the heavy HashAggregate subtree."""
    from rdbms_metadata_manager_spark.llm.projection import (
        matryoshka_truncation_recall,
    )

    plan = physical_plan(matryoshka_truncation_recall(spark, sf_dir))
    assert "sum(CASE WHEN" not in plan, plan  # heavy agg ran at build time
    assert plan.count("FileScan parquet") == 1, plan  # only the spine rescans


def test_retrieval_eval_pushes_topk_into_window_partials(spark, sf_dir):
    """retrieval_eval_metrics: the K-row cut must plan as
    WindowGroupLimit (per-partition top-K before the shuffle), the
    query batch and label totals as broadcasts, and the corpus-side
    vec_id range predicate pushed to the scan."""
    from rdbms_metadata_manager_spark.llm.ranking import retrieval_eval_metrics

    plan = physical_plan(retrieval_eval_metrics(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "GreaterThanOrEqual(vec_id,16)" in plan, plan


def test_label_noise_audit_is_joinless_single_scan(spark, sf_dir):
    """label_noise_knn_audit: the within-bucket all-pairs work lives
    entirely inside the grouped Arrow kernel — the plan must have ONE
    parquet scan, one bucket-key exchange feeding the kernel, and NO
    join operator of any kind."""
    from rdbms_metadata_manager_spark.llm.similarity import label_noise_knn_audit

    plan = physical_plan(label_noise_knn_audit(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gdpr_erasure_uses_broadcast_semi_joins(spark, sf_dir):
    """gdpr_erasure_audit: both cascade hops must plan as LEFT SEMI
    joins with broadcast subject/order keys — the fact tables never
    shuffle."""
    from rdbms_metadata_manager_spark.queries.quality import gdpr_erasure_audit

    plan = physical_plan(gdpr_erasure_audit(spark, sf_dir))
    assert "LeftSemi, BuildRight" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_pareto_and_budget_ride_partitioned_range_kernel(spark, sf_dir):
    """pareto_revenue_concentration and source_token_budget_cap both
    moved their global cumsum onto prefix.ranged_prefix: every window
    in their plans must carry a partition key (the range _pid or the
    kernel's non-foldable constant group) — the unpartitioned
    single-executor window is what the kernel exists to remove."""
    import re

    from rdbms_metadata_manager_spark.llm.pipeline import source_token_budget_cap
    from rdbms_metadata_manager_spark.queries.mining import (
        pareto_revenue_concentration,
    )

    for df in (
        pareto_revenue_concentration(spark, sf_dir),
        source_token_budget_cap(spark, sf_dir),
    ):
        plan = physical_plan(df)
        assert "windowspecdefinition(_pid" in plan, plan
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            head = m.group(1).split(",")[0]
            assert ("ASC" not in head) and ("DESC" not in head), (
                "unpartitioned window: " + m.group(0)
            )


def test_concurrency_and_mann_whitney_ride_partitioned_range_kernel(spark, sf_dir):
    """The two round-6 consumers of prefix.ranged_prefix — the
    sweep-line concurrency running sum and the Mann-Whitney midrank
    prefix — must show only PARTITIONED windows (the range _pid or
    the kernel's non-foldable constant group), never the
    single-executor global sort the kernel exists to replace."""
    import re

    from rdbms_metadata_manager_spark.queries.cohort import mann_whitney_u_test
    from rdbms_metadata_manager_spark.streaming.events_batch import (
        max_concurrent_sessions,
    )

    for df in (
        max_concurrent_sessions(spark, sf_dir),
        mann_whitney_u_test(spark, sf_dir),
    ):
        plan = physical_plan(df)
        assert "windowspecdefinition(_pid" in plan, plan
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            head = m.group(1).split(",")[0]
            assert ("ASC" not in head) and ("DESC" not in head), (
                "unpartitioned window: " + m.group(0)
            )


def test_hub_wiring_faces_broadcast_degrees_no_smj(spark, sf_dir):
    """degree_assortativity and rich_club_coefficient join the edge
    list against the ~|V|-row degree relation: both sides must come
    in as broadcast hash joins (the relation is V-bounded), with no
    sort-merge join anywhere — the edge relation is scanned once from
    the memoized checkpoint."""
    from rdbms_metadata_manager_spark.queries.mining import (
        degree_assortativity,
        rich_club_coefficient,
    )

    for df in (
        degree_assortativity(spark, sf_dir),
        rich_club_coefficient(spark, sf_dir),
    ):
        plan = physical_plan(df, execute=True)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


def test_type_jaccard_single_user_shuffle(spark, sf_dir):
    """event_type_user_jaccard: collect_set dedups inside the ONE
    user-keyed aggregation, which lives behind the checkpoint — so
    the visible plan must read the set relation from ExistingRDD and
    contain NO second user_id exchange (sizes and intersections both
    derive from the materialized sets), with the spine joins
    broadcast and no sort-merge join anywhere."""
    from rdbms_metadata_manager_spark.queries.advanced import event_type_user_jaccard

    plan = physical_plan(event_type_user_jaccard(spark, sf_dir), execute=True)
    assert "hashpartitioning(user_id" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_inference_batch_all_windows_partitioned(spark, sf_dir):
    """Every window in the round-6 session-2 statistical faces must
    carry a partition key — the range kernel's _pid (kruskal, gini),
    the customer/cohort key (Kaplan-Meier lag, LTV cumsum), or the
    non-foldable constant group on the documented CALENDAR-BOUNDED
    relations (spearman ranks, KM life table). No unpartitioned
    global sort may appear anywhere."""
    import re

    from rdbms_metadata_manager_spark.queries.inference import (
        cohort_ltv_curve,
        gini_revenue_exact,
        kaplan_meier_repurchase,
        kruskal_wallis_priority,
        spearman_daily_rho,
    )

    for fn in (
        kruskal_wallis_priority,
        gini_revenue_exact,
        spearman_daily_rho,
        kaplan_meier_repurchase,
        cohort_ltv_curve,
    ):
        plan = physical_plan(fn(spark, sf_dir))
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            head = m.group(1).split(",")[0]
            assert ("ASC" not in head) and ("DESC" not in head), (
                fn.__name__ + " unpartitioned window: " + m.group(0)
            )


def test_duplicate_payments_is_equality_keyed_join(spark, sf_dir):
    """The 7-day duplicate screen must be an EQUALITY-keyed self-join
    on (customer, cents) with the band as a post-join filter — never
    a cartesian or nested-loop range join (the all-pairs shape that
    dies at scale)."""
    from rdbms_metadata_manager_spark.queries.audit import (
        duplicate_payment_candidates,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(duplicate_payment_candidates(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_join_cardinality_audit_joins_only_rollups(spark, sf_dir):
    """The exact |R JOIN S| must come from joining the per-key COUNT
    rollups — every equality join in the plan must sit above
    aggregates on both sides (the raw fact join is never
    materialized). The only nested-loop joins allowed are the 1-row
    stat cross joins."""
    import re

    from rdbms_metadata_manager_spark.queries.audit import join_cardinality_audit

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(join_cardinality_audit(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.search(r"SortMergeJoin|ShuffledHashJoin", ln)
        if not m:
            continue
        depth = m.start()
        sub = []
        for nxt in lines[i + 1 :]:
            body = re.sub(r"^[:+\- ]*", "", nxt)
            ind = len(nxt) - len(body)
            if body and ind <= depth:
                break
            sub.append(nxt)
        body = "\n".join(sub)
        # checkpointed rollups surface as Scan ExistingRDD[k, n]
        assert ("HashAggregate" in body) or ("Scan parquet" not in body), (
            "equality join over un-aggregated inputs:\n" + body
        )


def test_fk_inclusion_fact_sides_never_broadcast(spark, sf_dir):
    """The r9 flags-per-value kernel removed every join from the
    plan: the melt feeds ONE groupBy(v) with per-column presence
    flags and ONE global aggregate — so the contract tightens from
    "the value join must be a shuffle join with no fact broadcast"
    to "no join (and hence no broadcast of anything fact-sized)
    exists at all", with the two aggregation levels plan-asserted."""
    from rdbms_metadata_manager_spark.queries.metadata import fk_inclusion_discovery

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(fk_inclusion_discovery(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "BroadcastExchange"):
        assert node not in plan, f"{node} in joinless kernel plan:\n" + plan
    # the melt (explode), the per-value flag rollup, and the global
    # spec fold — two aggregation levels over one generator
    assert "Generate explode" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x 2 levels


def test_bipartite_hits_broadcasts_type_degrees_only(spark, sf_dir):
    """a1 (the tiny per-type degree relation) is the only explicit
    broadcast; the h1 re-join runs keyed on user_id (shuffle join),
    and nothing nested-loops."""
    from rdbms_metadata_manager_spark.queries.graph import (
        bipartite_hits_event_types,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(bipartite_hits_event_types(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for sub in _broadcast_subtrees(plan):
        assert "HashAggregate" in sub, "non-aggregate broadcast subtree:\n" + sub


def test_late_session2_ops_all_windows_partitioned(spark, sf_dir):
    """The late session-2 batch (Theil-Sen, Mann-Kendall, runs test,
    SPC chart, ABC classes, percentile audit) must show only
    PARTITIONED windows — the range kernel's _pid or the non-foldable
    constant group on documented bounded relations; never a global
    sort."""
    import re

    from rdbms_metadata_manager_spark.queries.audit import (
        abc_inventory_classes,
        approx_percentile_rank_audit,
        spc_individuals_chart,
    )
    from rdbms_metadata_manager_spark.queries.inference import (
        mann_kendall_trend_test,
        theil_sen_daily_trend,
        wald_wolfowitz_runs_test,
    )

    for fn in (
        theil_sen_daily_trend,
        mann_kendall_trend_test,
        wald_wolfowitz_runs_test,
        spc_individuals_chart,
        abc_inventory_classes,
        approx_percentile_rank_audit,
    ):
        plan = physical_plan(fn(spark, sf_dir))
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            head = m.group(1).split(",")[0]
            assert ("ASC" not in head) and ("DESC" not in head), (
                fn.__name__ + " unpartitioned window: " + m.group(0)
            )


def test_round7_stats_ops_windows_partitioned_and_joins_broadcast(spark, sf_dir):
    """The r7 statistics batch: (a) no unpartitioned window anywhere
    (conformal's rank and BH's step-up ride the one_group bounded
    idiom; everything else is aggregate-only), (b) the per-query
    small sides (lag spine alignment, nation fill, the broadcast
    report scalars) never fall back to a sort-merge join — at 100 TB
    only the base rollup shuffles."""
    import re

    from rdbms_metadata_manager_spark.queries.stats import (
        ab_power_mde_report,
        anova_f_order_priority,
        bayesian_bootstrap_revenue_ci,
        bh_fdr_nation_drift,
        conformal_forecast_intervals,
        cramers_v_nation_segment,
        daily_cross_correlation,
        permutation_test_ab,
    )

    for fn in (
        permutation_test_ab,
        bayesian_bootstrap_revenue_ci,
        daily_cross_correlation,
        conformal_forecast_intervals,
        bh_fdr_nation_drift,
        cramers_v_nation_segment,
        ab_power_mde_report,
        anova_f_order_priority,
    ):
        plan = physical_plan(fn(spark, sf_dir))
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            head = m.group(1).split(",")[0]
            assert ("ASC" not in head) and ("DESC" not in head), (
                fn.__name__ + " unpartitioned window: " + m.group(0)
            )
        assert "SortMergeJoin" not in plan, fn.__name__ + " SMJ:\n" + plan


def test_round7_auc_rides_prefix_kernel(spark, sf_dir):
    """quality_scorer_auc's negative-count prefix must show the range
    kernel's _pid-partitioned window, never a global score sort."""
    import re

    from rdbms_metadata_manager_spark.llm.curation import quality_scorer_auc

    plan = physical_plan(quality_scorer_auc(spark, sf_dir))
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        head = m.group(1).split(",")[0]
        assert ("ASC" not in head) and ("DESC" not in head), (
            "unpartitioned window: " + m.group(0)
        )


def test_hubness_broadcast_is_bounded_sample(spark, sf_dir):
    """ann_hubness_audit (VERDICT r8 item 2): the query side of the
    pair join must be the TakeOrdered-bounded HUB_SAMPLE_Q-row md5
    sample — NEVER the whole embeddings relation. Every
    BroadcastExchange subtree must therefore contain a limit
    (TakeOrderedAndProject for the sample, or a HashAggregate for the
    1-row corpus total); a bare parquet scan directly under a
    broadcast is the r8 scale-killer this test pins closed."""
    from rdbms_metadata_manager_spark.llm.similarity import ann_hubness_audit

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(ann_hubness_audit(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    subs = _broadcast_subtrees(plan)
    assert subs, plan  # the sample must still broadcast (explicit hint)
    for sub in subs:
        assert "TakeOrderedAndProject" in sub or "HashAggregate" in sub, plan


def test_dsir_resample_has_no_unpartitioned_window(spark, sf_dir):
    """dsir_systematic_resample (ADVICE r8 #2): both prefix levels —
    per-bucket local cumsums AND the bucket-totals offsets — must run
    as partitioned windows (bucket / the range kernel's _pid), never
    an unpartitioned Window.orderBy that grows with the corpus."""
    import re

    from rdbms_metadata_manager_spark.llm.curation import dsir_systematic_resample

    plan = physical_plan(dsir_systematic_resample(spark, sf_dir))
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        head = m.group(1).split(",")[0]
        assert ("ASC" not in head) and ("DESC" not in head), (
            "unpartitioned window: " + m.group(0)
        )


def test_round9_ops_have_no_unpartitioned_windows(spark, sf_dir):
    """The round-9 battery must keep every window partitioned (day /
    week / source / the range kernel's _pid / the one_group constant
    for documented-bounded relations) — never a bare global
    Window.orderBy that grows with the corpus — and no op may fall
    back to a cartesian or corpus-sized nested-loop join (the RBO
    depth-spine theta join runs on the bounded 20-row top-D lists
    under an explicit broadcast)."""
    import re

    from rdbms_metadata_manager_spark.llm.drift import QUERIES as DRIFT_Q
    from rdbms_metadata_manager_spark.queries.distshift import QUERIES as DS_Q

    for fn, _ in DS_Q + DRIFT_Q:
        name = fn.__name__
        plan = physical_plan(fn(spark, sf_dir))
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            head = m.group(1).split(",")[0]
            assert ("ASC" not in head) and ("DESC" not in head), (
                name + " unpartitioned window: " + m.group(0)
            )
        assert "CartesianProduct" not in plan, name + ":\n" + plan
