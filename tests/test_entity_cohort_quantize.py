"""Invariants for entity resolution, cohort retention, and embedding
quantization — the semantic properties the per-query oracle diff
can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.llm.entity import DIRTY_MOD, entity_match_fuzzy_names
from rdbms_metadata_manager_spark.llm.hashing import h32
from rdbms_metadata_manager_spark.llm.quantize import (
    embedding_quantization_error,
    embedding_quantize_int8,
)
from rdbms_metadata_manager_spark.queries.base import load
from rdbms_metadata_manager_spark.queries.cohort import cohort_retention


def test_entity_match_full_recall_and_unique_matches(spark, sf_dir):
    """Every dirtied record's true source sits at levenshtein 1, and
    the deletion-neighborhood block guarantees the pair is generated —
    so recall is exactly the dirty count, one best match each."""
    customers = load(spark, sf_dir, "customer")
    n_dirty = customers.filter(
        h32(F.concat(F.lit("erdirty:"), F.col("c_custkey").cast("string"))) % DIRTY_MOD == 0
    ).count()
    rows = entity_match_fuzzy_names(spark, sf_dir).collect()
    assert len(rows) == n_dirty
    assert len({r.dirty_custkey for r in rows}) == n_dirty
    for r in rows:
        # single-deletion model: 17-char dirty vs 18-char clean
        assert r.distance == 1
        assert len(r.dirty_name) == 17 and len(r.match_name) == 18


def test_entity_match_plans_broadcast_not_cartesian(spark, sf_dir):
    from test_plans import physical_plan

    plan = physical_plan(entity_match_fuzzy_names(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quantize_codes_cover_int8_range(spark, sf_dir):
    codes = embedding_quantize_int8(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    dim = len(emb.select("embedding").first()[0])
    assert codes.count() == n_vec * dim
    stats = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).first()
    assert stats.lo == -128 and stats.hi == 127  # min/max scaling is tight


def test_quantization_error_bounded_by_half_step(spark, sf_dir):
    """Dequantizing to the code centre keeps every dimension's mean
    abs error under half a quantization step of that dimension."""
    for r in embedding_quantization_error(spark, sf_dir).collect():
        step = (r.dim_max - r.dim_min) / 256
        assert 0.0 <= r.mae <= step / 2 + 1e-12, r


def test_cohort_offset_zero_is_full_cohort(spark, sf_dir):
    """By construction a user is active on their first day, so every
    cohort's day-0 row covers the whole cohort; offsets are bounded
    by the 30-day window."""
    rows = cohort_retention(spark, sf_dir).collect()
    assert rows
    seen0 = set()
    for r in rows:
        assert 0 <= r.day_offset <= 31
        assert 1 <= r.active_users <= r.cohort_size
        if r.day_offset == 0:
            assert r.active_users == r.cohort_size
            assert r.retention_rate == 1.0
            seen0.add(r.cohort_day)
    assert seen0 == {r.cohort_day for r in rows}


def test_quantized_rerank_recall_vs_bruteforce(spark, sf_dir):
    """ADC over int8 codes + 50-candidate exact rerank must recover
    most of the true top-10 (64-dim int8 scalar quantization is
    high-accuracy), and every reported cosine must equal the exact
    brute-force value for that vector."""
    import pytest

    from rdbms_metadata_manager_spark.llm.quantize import similarity_quantized_rerank
    from rdbms_metadata_manager_spark.llm.similarity import similarity_topk_bruteforce

    exact = {r.vec_id: r.cosine for r in similarity_topk_bruteforce(spark, sf_dir).collect()}
    rerank = similarity_quantized_rerank(spark, sf_dir).collect()
    hits = [r for r in rerank if r.vec_id in exact]
    assert len(hits) >= 7  # recall >= 0.7 of the true top-10
    for r in hits:
        assert r.cosine == pytest.approx(exact[r.vec_id], abs=1e-12)


def test_quantized_rerank_plans_heap_topk(spark, sf_dir):
    from test_plans import physical_plan

    from rdbms_metadata_manager_spark.llm.quantize import similarity_quantized_rerank

    plan = physical_plan(similarity_quantized_rerank(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_centroid_memo_is_exact_and_no_arrow_safe(spark, sf_dir):
    """The trained-centroid memo must (a) reproduce the trained
    result bit-exactly on a hit and (b) rebuild its local centroid
    relation under a NON-Arrow session — the driver's posture, where
    numpy-int64 cells crash the createDataFrame verifier (the round-2
    fixtures failure class)."""
    from rdbms_metadata_manager_spark import memo
    from rdbms_metadata_manager_spark.llm import kmeans
    from rdbms_metadata_manager_spark.llm.similarity import _as_double
    from rdbms_metadata_manager_spark.queries.base import load_spread

    def entries():
        return sum(len(d) for d in memo._REGISTRY)

    # a sibling session has its own memo entries: its first call trains
    s = spark.newSession()
    emb = load_spread(s, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    trained = sorted(map(tuple, kmeans.train_centroids(emb).collect()))
    cold = kmeans.kmeans_clusters(s, sf_dir).collect()
    built = entries()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    warm = kmeans.kmeans_clusters(s, sf_dir).collect()
    assert entries() == built  # every memo hit
    assert sorted(map(tuple, kmeans.shared_centroids(s, sf_dir, emb).collect())) == trained
    assert cold == warm
