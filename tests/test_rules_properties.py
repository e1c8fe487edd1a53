"""Property-based tests (SURVEY.md §5.2(4)): random catalog metadata
must uphold the rule invariants from the reference semantics."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rdbms_metadata_manager_spark.catalog.schemas import (
    COLUMNS_META_SCHEMA,
    FOREIGN_KEYS_META_SCHEMA,
    INDEXES_META_SCHEMA,
)
from rdbms_metadata_manager_spark.rules import detect_schema_flaws
from rdbms_metadata_manager_spark.rules.engine import (
    MONETARY_KEYWORDS,
    NON_NULLABLE_COLUMNS,
)

_NAMES = st.sampled_from(
    [
        "id",
        "user_id",
        "email",
        "price",
        "total_amount",
        "order_date",
        "rating",
        "username",
        "notes",
        "corporate_rate_x",
        "idempotency_key",
        "created_at",
        "value",
        "payload",
    ]
)
_TYPES = st.sampled_from(
    ["VARCHAR", "TEXT", "INTEGER", "DECIMAL", "NUMERIC", "FLOAT", "DATETIME", "DATE", "TINYINT"]
)

_COLUMN_ROW = st.tuples(
    st.just("prop_db"),
    st.sampled_from(["t1", "t2", "t3"]),
    _NAMES,
    st.integers(1, 20),
    _TYPES,
    st.one_of(st.none(), st.integers(1, 65535)),
    st.booleans(),
    st.one_of(st.none(), st.booleans()),
    st.booleans(),
    st.booleans(),  # is_indexed
    st.booleans(),  # is_fk_first
)


def _df(spark, rows, schema):
    from rdbms_metadata_manager_spark.catalog.fixtures import _local_df

    return _local_df(spark, rows, schema)


@pytest.fixture(scope="module")
def run_rules(spark):
    def _run(columns):
        # Dedup (table, column) — the engine's contract is one row per
        # column, like a real catalog.
        seen, rows = set(), []
        for r in columns:
            key = (r[1], r[2])
            if key not in seen:
                seen.add(key)
                rows.append(r)
        cols = _df(spark, rows, COLUMNS_META_SCHEMA)
        idx = _df(spark, [], INDEXES_META_SCHEMA)
        fks = _df(spark, [], FOREIGN_KEYS_META_SCHEMA)
        return rows, detect_schema_flaws(cols, idx, fks).collect()

    return _run


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_COLUMN_ROW, min_size=1, max_size=25))
def test_rule_invariants(run_rules, columns):
    rows, issues = run_rules(columns)
    by_key = {(r[1], r[2]): r for r in rows}
    for issue in issues:
        src = by_key[(issue["table"], issue["column"])]
        _, _, name, _, dtype, length, nullable, unique, pk, indexed, fk_first = src
        rid = issue["rule_id"]
        if rid == 1:
            assert dtype in ("VARCHAR", "TEXT") and length and length >= 255
            assert unique is not True and not indexed
        elif rid == 2:
            low = name.lower()
            assert low.endswith("id") or low.startswith("id")
            assert not pk and not indexed and not fk_first
        elif rid == 3:
            assert any(k in name.lower() for k in MONETARY_KEYWORDS)
            assert dtype not in ("DECIMAL", "NUMERIC")
        elif rid == 4:
            assert name.lower() in ("rating", "created_at", "order_date")
        elif rid == 5:
            assert name.lower() in NON_NULLABLE_COLUMNS and nullable


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_COLUMN_ROW, min_size=1, max_size=25))
def test_no_missed_rule5(run_rules, columns):
    """Completeness (not just soundness): every nullable critical
    column MUST produce a Rule-5 issue, whatever its membership
    flags."""
    rows, issues = run_rules(columns)
    fired = {(i["table"], i["column"]) for i in issues if i["rule_id"] == 5}
    for r in rows:
        if r[2].lower() in NON_NULLABLE_COLUMNS and r[6]:
            assert (r[1], r[2]) in fired


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_COLUMN_ROW, min_size=1, max_size=25))
def test_membership_flags_gate_rules_1_and_2(run_rules, columns):
    """Completeness for the two membership rules: a column fires Rule 1
    or Rule 2 exactly when the rule's predicate holds under the
    column's drawn ``is_indexed`` and ``is_fk_first``."""
    rows, issues = run_rules(columns)
    fired = {(i["table"], i["column"], i["rule_id"]) for i in issues}
    for _, table, name, _, dtype, length, _, unique, pk, indexed, fk_first in rows:
        low = name.lower()
        r1 = dtype in ("VARCHAR", "TEXT") and (length or 0) >= 255 and unique is not True
        r2 = (low.endswith("id") or low.startswith("id")) and not pk and not fk_first
        assert ((table, name, 1) in fired) == (r1 and not indexed)
        assert ((table, name, 2) in fired) == (r2 and not indexed)
