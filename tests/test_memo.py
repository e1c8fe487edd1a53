"""The session memo (rdbms_metadata_manager_spark/memo.py).

``memo.shared`` builds each shared relation or model once per
(session, corpus, name). The memo assumes an immutable corpus;
``clear_memos()`` is the explicit escape hatch for in-place rewrites
and long-lived multi-corpus sessions. The memo is a pure performance
artifact, never a semantic one: eviction recomputes identical rows.
"""

from __future__ import annotations

from rdbms_metadata_manager_spark import memo
from rdbms_metadata_manager_spark.memo import clear_memos, shared


def _entries() -> int:
    return sum(len(d) for d in memo._REGISTRY)


def _counting(value):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_second_call_in_the_same_session_does_not_build(spark):
    build, calls = _counting("value")
    assert shared(spark, "/corpus/a", "m", build) == "value"
    assert shared(spark, "/corpus/a", "m", build) == "value"
    assert len(calls) == 1


def test_sibling_session_gets_its_own_entry(spark):
    sibling = spark.newSession()
    assert shared(spark, "/corpus/b", "m", lambda: "first") == "first"
    assert shared(sibling, "/corpus/b", "m", lambda: "sibling") == "sibling"
    assert shared(spark, "/corpus/b", "m", lambda: "rebuilt") == "first"


def test_stored_falsy_value_is_a_hit(spark):
    build, calls = _counting([])
    assert shared(spark, "/corpus/c", "m", build) == []
    assert shared(spark, "/corpus/c", "m", build) == []
    assert len(calls) == 1


def test_clear_memos_returns_the_evicted_count(spark):
    shared(spark, "/corpus/d", "m", lambda: 1)
    live = _entries()
    assert live >= 1
    assert clear_memos() == live
    assert _entries() == 0


def test_clear_memos_evicts_and_recomputes(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm import curation

    before = curation.quality_classifier_scores(spark, sf_dir)
    assert curation.quality_classifier_scores(spark, sf_dir) is before
    rows_before = sorted(map(tuple, before.limit(50).collect()))
    assert clear_memos() >= 1
    after = curation.quality_classifier_scores(spark, sf_dir)
    assert after is not before  # genuinely recomputed, not the old ref
    rows_after = sorted(map(tuple, after.limit(50).collect()))
    assert rows_before == rows_after


def test_clear_memos_handles_heterogeneous_values(spark):
    # bpe-style (list, DataFrame) tuples and plain lists must not trip
    # the unpersist walk.
    shared(spark, "/corpus/e", "tuple", lambda: ([("x", 1)], None))
    shared(spark, "/corpus/e", "list", lambda: [1, 2, 3])
    assert clear_memos() >= 2
    assert _entries() == 0
