"""The one catalog reader: three set-oriented reads, any transport.

Replaces the reference's SQLAlchemy reflection (app.py:27-33), which
issues ~3-5 round-trips PER TABLE (reflect() plus redundant
per-table get_indexes/get_foreign_keys — the 2x N+1 pattern,
SURVEY.md §4.1). Here the whole catalog arrives in THREE reads
regardless of table count, one per *face*, each producing one of the
``catalog.schemas`` contracts:

    columns      -> columns_meta
    indexes      -> indexes_meta
    foreign_keys -> foreign_keys_meta

Everything a face needs to know lives in this module: which SQL it
runs per dialect, the raw row schema it returns, and the
post-processing that turns raw rows into the contract (type-name
normalization for ``columns``, the ordered-array collapse for
``foreign_keys``). A transport (``jdbc_source``, ``pg_live``,
``mysql_live``) supplies only its wire, as a ``fetch(sql,
raw_schema) -> DataFrame`` callable; the rules engine never sees a
dialect.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import COLUMNS_META_SCHEMA, INDEXES_META_SCHEMA

FACES = ("columns", "indexes", "foreign_keys")

# information_schema.data_type / pg type names → SQLAlchemy class-name
# style (reference app.py:39). Anything absent passes through upper().
_TYPE_NORMALIZATION = {
    "INT": "INTEGER",
    "INT4": "INTEGER",
    "INT8": "BIGINT",
    "INT2": "SMALLINT",
    "CHARACTER VARYING": "VARCHAR",
    "CHARACTER": "CHAR",
    "TIMESTAMP WITHOUT TIME ZONE": "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
    "DOUBLE PRECISION": "FLOAT",
    "DOUBLE": "FLOAT",
    "REAL": "FLOAT",
    "BOOL": "BOOLEAN",
    "SERIAL": "INTEGER",
    "BIGSERIAL": "BIGINT",
}


def _normalize_type(col: F.Column) -> F.Column:
    upper = F.upper(col)
    expr = upper
    for src, dst in _TYPE_NORMALIZATION.items():
        expr = F.when(upper == src, F.lit(dst)).otherwise(expr)
    return expr


# --- MySQL ----------------------------------------------------------------

_MYSQL_COLUMNS_QUERY = """
SELECT c.table_schema      AS `database`,
       c.table_name,
       c.column_name,
       c.ordinal_position  AS ordinal,
       c.data_type,
       c.character_maximum_length AS char_max_length,
       (c.is_nullable = 'YES')    AS is_nullable,
       NULL                       AS is_unique,
       (c.column_key = 'PRI')     AS is_primary_key
FROM information_schema.columns c
JOIN information_schema.tables t
  ON  t.table_schema = c.table_schema
  AND t.table_name   = c.table_name
WHERE c.table_schema = '{db}'
  AND t.table_type = 'BASE TABLE'
"""

_MYSQL_INDEXES_QUERY = """
SELECT table_schema AS `database`,
       table_name,
       index_name,
       column_name,
       (non_unique = 0) AS is_unique
FROM information_schema.statistics
WHERE table_schema = '{db}'
"""

_MYSQL_FK_QUERY = """
SELECT kcu.table_schema AS `database`,
       kcu.table_name,
       kcu.constraint_name,
       kcu.column_name,
       kcu.ordinal_position,
       kcu.referenced_table_name  AS referred_table,
       kcu.referenced_column_name AS referred_column
FROM information_schema.key_column_usage kcu
JOIN information_schema.table_constraints tc
  ON  tc.constraint_schema = kcu.constraint_schema
  AND tc.table_name = kcu.table_name
  AND tc.constraint_name = kcu.constraint_name
WHERE tc.constraint_type = 'FOREIGN KEY'
  AND kcu.table_schema = '{db}'
"""

# --- PostgreSQL -----------------------------------------------------------

# The pk subquery correlates key_column_usage back to
# table_constraints on (schema, table, name) — PostgreSQL constraint
# names are unique only per table/schema, so a join on
# constraint_name alone cross-matches same-named PKs (users_pkey in
# public and backup schemas), duplicating columns_meta rows through
# the LEFT JOIN. Same bug class as the FK query's documented fix.
# The tables join drops views (the reference's SQLAlchemy reflection
# audits base tables only; a view's columns have no indexes to see,
# so every large-varchar view column would fire a false Rule 1).
_PG_COLUMNS_QUERY = """
SELECT c.table_catalog AS database,
       c.table_name,
       c.column_name,
       c.ordinal_position AS ordinal,
       c.data_type,
       c.character_maximum_length AS char_max_length,
       (c.is_nullable = 'YES') AS is_nullable,
       NULL::boolean AS is_unique,
       (pk.column_name IS NOT NULL) AS is_primary_key
FROM information_schema.columns c
JOIN information_schema.tables t
  ON  t.table_schema = c.table_schema
  AND t.table_name   = c.table_name
LEFT JOIN (
    SELECT DISTINCT kcu.table_schema, kcu.table_name, kcu.column_name
    FROM information_schema.table_constraints tc
    JOIN information_schema.key_column_usage kcu
      ON  kcu.constraint_schema = tc.constraint_schema
      AND kcu.table_name        = tc.table_name
      AND kcu.constraint_name   = tc.constraint_name
    WHERE tc.constraint_type = 'PRIMARY KEY'
) pk ON pk.table_schema = c.table_schema
    AND pk.table_name   = c.table_name
    AND pk.column_name  = c.column_name
WHERE c.table_schema = 'public'
  AND t.table_type = 'BASE TABLE'
"""

_PG_INDEXES_QUERY = """
SELECT current_database() AS database,
       t.relname AS table_name,
       i.relname AS index_name,
       a.attname AS column_name,
       ix.indisunique AS is_unique
FROM pg_class t
JOIN pg_index ix ON t.oid = ix.indrelid
JOIN pg_class i ON i.oid = ix.indexrelid
JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = ANY(ix.indkey)
WHERE t.relkind IN ('r', 'p') AND t.relnamespace = 'public'::regnamespace
"""

# Multi-column FKs pair constrained→referred columns positionally by
# zipping pg_constraint's conkey/confkey arrays (multi-array unnest
# WITH ORDINALITY). pg_catalog, not information_schema, because
# PostgreSQL constraint names are unique only PER TABLE: an
# information_schema join on (constraint_schema, constraint_name)
# cross-matches same-named constraints on different tables, while
# con.oid keys each constraint exactly once. Verified against live
# PostgreSQL 15 (tests/test_pg_live.py, incl. the duplicate-name
# scenario).
_PG_FK_QUERY = """
SELECT current_database() AS database,
       rel.relname  AS table_name,
       con.conname  AS constraint_name,
       att.attname  AS column_name,
       u.ord        AS ordinal_position,
       frel.relname AS referred_table,
       fatt.attname AS referred_column
FROM pg_constraint con
JOIN pg_class rel  ON rel.oid = con.conrelid
JOIN pg_class frel ON frel.oid = con.confrelid
CROSS JOIN LATERAL unnest(con.conkey, con.confkey) WITH ORDINALITY AS u(attnum, fattnum, ord)
JOIN pg_attribute att  ON att.attrelid = con.conrelid  AND att.attnum = u.attnum
JOIN pg_attribute fatt ON fatt.attrelid = con.confrelid AND fatt.attnum = u.fattnum
WHERE con.contype = 'f' AND rel.relnamespace = 'public'::regnamespace
"""


def group_foreign_keys(df: DataFrame) -> DataFrame:
    """Collapse flat (constraint, column, ordinal) FK rows to one row
    per constraint with the ordered ``constrained_columns`` array the
    rules contract expects — ``sort_array(collect_list(struct(ordinal,
    col)))`` keeps column order so ``element_at(..., 1)`` matches the
    reference's ``constrained_columns[0]`` (app.py:35)."""
    return (
        df.groupBy("database", "table_name", "constraint_name")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ordinal_position", "column_name"))),
                lambda s: s["column_name"],
            ).alias("constrained_columns"),
            F.first("referred_table").alias("referred_table"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("ordinal_position", "referred_column"))),
                lambda s: s["referred_column"],
            ).alias("referred_columns"),
        )
    )


_QUERIES = {
    "mysql": {
        "columns": _MYSQL_COLUMNS_QUERY,
        "indexes": _MYSQL_INDEXES_QUERY,
        "foreign_keys": _MYSQL_FK_QUERY,
    },
    "postgresql": {
        "columns": _PG_COLUMNS_QUERY,
        "indexes": _PG_INDEXES_QUERY,
        "foreign_keys": _PG_FK_QUERY,
    },
}

# Flat FK rows as they leave the catalog query, before
# group_foreign_keys collapses them to one row per constraint.
_FK_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("constraint_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("ordinal_position", T.IntegerType(), False),
        T.StructField("referred_table", T.StringType(), False),
        T.StructField("referred_column", T.StringType(), False),
    ]
)

_RAW_SCHEMAS = {
    "columns": COLUMNS_META_SCHEMA,
    "indexes": INDEXES_META_SCHEMA,
    "foreign_keys": _FK_FLAT_SCHEMA,
}

_DB_IDENT_RX = re.compile(r"^[A-Za-z0-9_$]+$")


def validate_database_ident(database: str) -> str:
    """The MySQL database name is interpolated into the catalog SQL
    (``.format(db=...)`` string literals) and into the mysql CLI's
    ``-D`` flag, so it must be a plain unquoted MySQL identifier —
    anything else (quotes, whitespace, semicolons) is rejected here
    rather than reaching the SQL text (ADVICE r4 #3)."""
    if not _DB_IDENT_RX.match(database):
        raise ValueError(
            f"invalid MySQL database identifier {database!r}: only"
            " [A-Za-z0-9_$] names are accepted"
        )
    return database


def coerce(rows: list[list[str | None]], schema: T.StructType, true_literal: str) -> list[tuple]:
    """Text-wire strings → Python values per ``schema``. SQL NULL
    arrives as None; booleans arrive as the dialect's text form
    (PostgreSQL prints 't'/'f', MySQL has no boolean type and sends
    comparison results as '1'/'0')."""

    def conv(v: str | None, dt: T.DataType):
        if v is None:
            return None
        if isinstance(dt, (T.IntegerType, T.LongType)):
            return int(v)
        if isinstance(dt, T.BooleanType):
            return v == true_literal
        return v

    return [tuple(conv(v, f.dataType) for v, f in zip(row, schema.fields)) for row in rows]


def read_face(
    face: str,
    dialect: str,
    database: str,
    fetch: Callable[[str, T.StructType], DataFrame],
) -> DataFrame:
    """One catalog face as its ``catalog.schemas`` contract.

    ``fetch(sql, raw_schema)`` is the transport: it runs ``sql`` and
    returns its rows as a DataFrame of ``raw_schema``. The PostgreSQL
    queries read the connected database's ``public`` schema, so only
    the MySQL ones take ``database`` — validated before it is
    formatted into the SQL text."""
    sql = _QUERIES[dialect][face]
    if dialect == "mysql":
        sql = sql.format(db=validate_database_ident(database))
    df = fetch(sql, _RAW_SCHEMAS[face])
    if face == "columns":
        return df.withColumn("data_type", _normalize_type(F.col("data_type")))
    if face == "foreign_keys":
        return group_foreign_keys(df)
    return df
