"""Scale smoke for the rule engine: a 200,000-column synthetic
catalog (20k tables × 10 columns), generated ENTIRELY JVM-side via
spark.range — no Python rows, no driver loops — with analytically
known per-rule issue counts. This is the 'would it survive a real
warehouse catalog' check the 26-row fixture can't give."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.catalog.fixtures import _local_df
from rdbms_metadata_manager_spark.catalog.schemas import (
    FOREIGN_KEYS_META_SCHEMA,
    INDEXES_META_SCHEMA,
)
from rdbms_metadata_manager_spark.rules import detect_schema_flaws

N_TABLES = 20_000

# Ten identical columns per table → closed-form expected counts.
# (name, data_type, char_max_length, nullable, pk)
_COLUMNS = [
    ("user_id", "INTEGER", None, False, False),   # R2 (no FK/index)
    ("email", "VARCHAR", 255, True, False),       # R1 + R5
    ("price", "FLOAT", None, True, False),        # R3 + R5
    ("total_amount", "DECIMAL", None, True, False),  # R5
    ("order_date", "DATETIME", None, True, False),   # R5
    ("rating", "TINYINT", None, True, False),     # R4 + R5 (no R3: 'rate' ∉ 'rating')
    ("username", "VARCHAR", 255, True, False),    # R1
    ("notes", "TEXT", 65535, True, False),        # R1
    ("payload", "VARCHAR", 100, True, False),     # —
    ("created_at", "DATE", None, False, False),   # R4
]
_PER_TABLE = {1: 3, 2: 1, 3: 1, 4: 2, 5: 5}


def _big_columns_meta(spark):
    n = N_TABLES * len(_COLUMNS)
    names = F.array(*[F.lit(c[0]) for c in _COLUMNS])
    types = F.array(*[F.lit(c[1]) for c in _COLUMNS])
    lengths = F.array(*[F.lit(c[2]).cast("int") for c in _COLUMNS])
    nullables = F.array(*[F.lit(c[3]) for c in _COLUMNS])
    pks = F.array(*[F.lit(c[4]) for c in _COLUMNS])
    idx = (F.col("id") % len(_COLUMNS) + 1).cast("int")
    return spark.range(n).select(
        F.lit("big_db").alias("database"),
        F.concat(F.lit("t"), (F.col("id") / len(_COLUMNS)).cast("long").cast("string")).alias(
            "table_name"
        ),
        F.element_at(names, idx).alias("column_name"),
        idx.alias("ordinal"),
        F.element_at(types, idx).alias("data_type"),
        F.element_at(lengths, idx).alias("char_max_length"),
        F.element_at(nullables, idx).alias("is_nullable"),
        F.lit(None).cast("boolean").alias("is_unique"),
        F.element_at(pks, idx).alias("is_primary_key"),
        F.lit(False).alias("is_indexed"),
        F.lit(False).alias("is_fk_first"),
    )


@pytest.mark.slow
def test_rules_on_200k_column_catalog(spark):
    cols = _big_columns_meta(spark)
    idx = _local_df(spark, [], INDEXES_META_SCHEMA)
    fks = _local_df(spark, [], FOREIGN_KEYS_META_SCHEMA)
    issues = detect_schema_flaws(cols, idx, fks)
    per_rule = {
        r["rule_id"]: r["n"]
        for r in issues.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_rule == {rid: n * N_TABLES for rid, n in _PER_TABLE.items()}
