"""End-to-end training-data pipeline: stage consistency and survivor sets."""

from __future__ import annotations

from rdbms_metadata_manager_spark.llm import pipeline


def test_stage_counts_monotonic(spark, sf_dir):
    row = pipeline.pipeline_stage_counts(spark, sf_dir).collect()[0]
    assert row["docs_in"] >= row["after_quality"] >= row["after_exact_dedup"] >= row["after_near_dedup"]
    assert row["total_chunks"] >= row["after_near_dedup"]  # every doc ≥ 1 chunk


def test_survivors_have_no_near_dup_pairs(spark, sf_dir):
    """After the pipeline, the MinHash near-dup detector must find
    nothing among survivors whose pair-partner also survived."""
    from rdbms_metadata_manager_spark.llm.dedup import dedup_minhash_lsh

    survivors = {r["doc_id"] for r in pipeline.pipeline_survivors(spark, sf_dir).collect()}
    pairs = dedup_minhash_lsh(spark, sf_dir).collect()
    both_survived = [
        (r["doc_a"], r["doc_b"]) for r in pairs if r["doc_a"] in survivors and r["doc_b"] in survivors
    ]
    assert both_survived == []


def test_cross_source_matrix_accounts_for_every_pair(spark, sf_dir):
    """The source×source matrix partitions the exact MinHash pair
    set: Σ n_pairs = |pairs|, strong counts bounded, keys canonical."""
    from rdbms_metadata_manager_spark.llm.dedup import (
        cross_source_dup_matrix,
        dedup_minhash_lsh,
    )

    rows = cross_source_dup_matrix(spark, sf_dir).collect()
    n_pairs_total = dedup_minhash_lsh(spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == n_pairs_total
    for r in rows:
        assert 0 <= r.n_strong <= r.n_pairs
        assert r.source_a <= r.source_b
