"""Schema contracts for the metadata-catalog data model.

Mirrors what the reference reflects via SQLAlchemy (reference
app.py:27-35) as three DataFrames instead of an object graph:

- ``columns_meta``  — one row per column (the central fact table);
  ``is_unique`` is nullable because reflected ``column.unique`` may be
  ``None`` (reference app.py:44). It also carries the two per-column
  membership facts the reference computes per table while it reflects
  (app.py:34-35): ``is_indexed`` (some index covers the column) and
  ``is_fk_first`` (the column is ``constrained_columns[0]`` of some
  FK). Every reader delivers them, so the rules read this one
  relation and nothing else.
- ``indexes_meta``  — pre-exploded, one row per (index, column)
  (reference app.py:34 builds a flat column-name set); the source of
  ``is_indexed``.
- ``foreign_keys_meta`` — ``constrained_columns`` stays an array so
  the reference's first-column-only semantics (app.py:35,
  ``fk['constrained_columns'][0]``) is expressed with
  ``constrained_columns[0]`` rather than baked in; the source of
  ``is_fk_first``.

The issue record matches the reference's 5-field dict
(app.py:45-51) plus an internal ``rule_id`` for deterministic output
order (the reference's order is reflection-iteration order — see
SURVEY.md §2.3(6); we sort explicitly instead).
"""

from __future__ import annotations

from pyspark.sql import types as T

COLUMNS_META_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("ordinal", T.IntegerType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("char_max_length", T.IntegerType(), True),
        T.StructField("is_nullable", T.BooleanType(), False),
        T.StructField("is_unique", T.BooleanType(), True),
        T.StructField("is_primary_key", T.BooleanType(), False),
        T.StructField("is_indexed", T.BooleanType(), False),
        T.StructField("is_fk_first", T.BooleanType(), False),
    ]
)

INDEXES_META_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("index_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("is_unique", T.BooleanType(), False),
    ]
)

FOREIGN_KEYS_META_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("constraint_name", T.StringType(), False),
        T.StructField("constrained_columns", T.ArrayType(T.StringType()), False),
        T.StructField("referred_table", T.StringType(), False),
        T.StructField("referred_columns", T.ArrayType(T.StringType()), False),
    ]
)

ISSUE_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("issue_type", T.StringType(), False),
        T.StructField("issue", T.StringType(), False),
        T.StructField("recommendation", T.StringType(), False),
        T.StructField("rule_id", T.IntegerType(), False),
    ]
)
