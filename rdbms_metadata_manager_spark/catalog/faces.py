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
``foreign_keys``, each one SQL expression or statement). The columns
face also answers membership: each dialect's columns SQL computes
``is_indexed`` and ``is_fk_first`` per column with two ``EXISTS``
next to ``is_primary_key``, so the source database's own catalog
indexes do that work and the rules read the columns face alone. The
index and FK faces keep their contracts for every other reader.

A transport (``jdbc_source``, ``pg_live``, ``mysql_live``) supplies
only its wire, as a ``fetch(sql, raw_schema) -> DataFrame`` callable;
the rules engine never sees a dialect. For PostgreSQL the three face
queries also come as one face-tagged statement, ``PG_CATALOG_QUERY``,
so a live read is one round trip (``read_tagged_catalog``).
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


# One CASE expression, so the whole normalization is one parse rather
# than a chain of Column calls.
_NORMALIZED_TYPE = (
    "CASE upper(data_type) "
    + " ".join(f"WHEN '{src}' THEN '{dst}'" for src, dst in _TYPE_NORMALIZATION.items())
    + " ELSE upper(data_type) END"
)


# --- MySQL ----------------------------------------------------------------

# The two membership flags are the same probes as the index and FK
# face queries below: any statistics row for the column, and the
# column at ordinal 1 of a FOREIGN KEY constraint.
_MYSQL_COLUMNS_QUERY = """
SELECT c.table_schema      AS `database`,
       c.table_name,
       c.column_name,
       c.ordinal_position  AS ordinal,
       c.data_type,
       c.character_maximum_length AS char_max_length,
       (c.is_nullable = 'YES')    AS is_nullable,
       NULL                       AS is_unique,
       (c.column_key = 'PRI')     AS is_primary_key,
       EXISTS (SELECT 1 FROM information_schema.statistics s
               WHERE s.table_schema = c.table_schema AND s.table_name = c.table_name
                 AND s.column_name = c.column_name) AS is_indexed,
       EXISTS (SELECT 1
               FROM information_schema.key_column_usage kcu
               JOIN information_schema.table_constraints tc
                 ON  tc.constraint_schema = kcu.constraint_schema
                 AND tc.table_name = kcu.table_name
                 AND tc.constraint_name = kcu.constraint_name
               WHERE tc.constraint_type = 'FOREIGN KEY'
                 AND kcu.table_schema = c.table_schema AND kcu.table_name = c.table_name
                 AND kcu.column_name = c.column_name
                 AND kcu.ordinal_position = 1) AS is_fk_first
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

# Straight from pg_catalog: the same rows information_schema.columns
# gives (its data_type CASE, its character-length helpers), without
# that view's joins through information_schema.tables and the
# key_column_usage/table_constraints pair, which cost most of the
# catalog read's server time. ``relkind IN ('r', 'p')`` is
# information_schema's 'BASE TABLE': views are left out (the
# reference's SQLAlchemy reflection audits base tables only; a view's
# columns have no indexes to see, so every large-varchar view column
# would fire a false Rule 1). The primary-key flag is an EXISTS over
# the table's own pg_constraint rows, so a same-named constraint on
# another table cannot match. The two membership flags are per-column
# facts of the same kind, answered by the server's own catalog
# indexes: ``is_indexed`` probes pg_index exactly as
# ``_PG_INDEXES_QUERY`` joins it (an expression key's 0 in ``indkey``
# covers no column; INCLUDE columns count), and ``is_fk_first`` is
# ``conkey[1]`` of a foreign key, the first column of
# ``_PG_FK_QUERY``'s ordered array. One intended difference: the
# information_schema views hide columns the connected role holds no
# privilege on, while pg_catalog shows every column, as SQLAlchemy's
# PostgreSQL reflection (the reference's reader) also does.
_PG_COLUMNS_QUERY = """
SELECT current_database() AS database,
       c.relname AS table_name,
       a.attname AS column_name,
       a.attnum AS ordinal,
       CASE WHEN t.typtype = 'd' THEN
              CASE WHEN bt.typelem <> 0 AND bt.typlen = -1 THEN 'ARRAY'
                   WHEN nbt.nspname = 'pg_catalog' THEN format_type(t.typbasetype, NULL)
                   ELSE 'USER-DEFINED' END
            ELSE
              CASE WHEN t.typelem <> 0 AND t.typlen = -1 THEN 'ARRAY'
                   WHEN nt.nspname = 'pg_catalog' THEN format_type(a.atttypid, NULL)
                   ELSE 'USER-DEFINED' END
       END AS data_type,
       information_schema._pg_char_max_length(information_schema._pg_truetypid(a.*, t.*),
                                              information_schema._pg_truetypmod(a.*, t.*))
         AS char_max_length,
       NOT (a.attnotnull OR (t.typtype = 'd' AND t.typnotnull)) AS is_nullable,
       NULL::boolean AS is_unique,
       EXISTS (SELECT 1 FROM pg_constraint k
               WHERE k.conrelid = c.oid AND k.contype = 'p' AND a.attnum = ANY (k.conkey))
         AS is_primary_key,
       EXISTS (SELECT 1 FROM pg_index ix
               WHERE ix.indrelid = c.oid AND a.attnum = ANY (ix.indkey))
         AS is_indexed,
       EXISTS (SELECT 1 FROM pg_constraint f
               WHERE f.conrelid = c.oid AND f.contype = 'f' AND f.conkey[1] = a.attnum)
         AS is_fk_first
FROM pg_attribute a
JOIN pg_class c ON c.oid = a.attrelid
JOIN pg_type t ON t.oid = a.atttypid
JOIN pg_namespace nt ON nt.oid = t.typnamespace
LEFT JOIN (pg_type bt JOIN pg_namespace nbt ON nbt.oid = bt.typnamespace)
       ON t.typtype = 'd' AND t.typbasetype = bt.oid
WHERE c.relnamespace = 'public'::regnamespace
  AND c.relkind IN ('r', 'p')
  AND a.attnum > 0
  AND NOT a.attisdropped
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


# Flat FK rows collapse to one row per constraint with the ordered
# ``constrained_columns`` array the rules contract expects —
# ``sort_array(collect_list(struct(ordinal, col)))`` keeps column order
# so ``constrained_columns[0]`` matches the reference's
# ``constrained_columns[0]`` (app.py:35).
_FK_GROUPED = """
SELECT database, table_name, constraint_name,
       transform(sort_array(collect_list(struct(ordinal_position, column_name))),
                 s -> s.column_name) AS constrained_columns,
       first(referred_table) AS referred_table,
       transform(sort_array(collect_list(struct(ordinal_position, referred_column))),
                 s -> s.referred_column) AS referred_columns
FROM {fks}
GROUP BY database, table_name, constraint_name
"""


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

# Flat FK rows as they leave the catalog query, before _FK_GROUPED
# collapses them to one row per constraint.
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
    (PostgreSQL prints 't'/'f', or 'true'/'false' once cast to text as
    in ``PG_CATALOG_QUERY``; MySQL has no boolean type and sends
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


def _contract(face: str, df: DataFrame) -> DataFrame:
    """Raw face rows → the face's ``catalog.schemas`` contract."""
    if face == "columns":
        return df.withColumn("data_type", F.expr(_NORMALIZED_TYPE))
    if face == "foreign_keys":
        return df.sparkSession.sql(_FK_GROUPED, fks=df)
    return df


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
    return _contract(face, fetch(sql, _RAW_SCHEMAS[face]))


def _tagged(face: str, width: int) -> str:
    names = _RAW_SCHEMAS[face].fieldNames()
    fields = [f"q.{n}::text" for n in names] + ["NULL"] * (width - len(names))
    return f"SELECT '{face}', {', '.join(fields)} FROM ({_QUERIES['postgresql'][face]}) q"


# All three PostgreSQL faces in one statement, so a live read is one
# round trip. UNION ALL needs one row type: each row leads with its
# face's name, then that face's fields cast to text (booleans read
# 'true'/'false'), padded with NULLs to the widest face.
PG_CATALOG_QUERY = "\nUNION ALL\n".join(
    _tagged(face, max(len(s.fields) for s in _RAW_SCHEMAS.values())) for face in FACES
)


def read_tagged_catalog(
    rows: list[list[str | None]],
    to_df: Callable[[list[list[str | None]], T.StructType], DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three contracts from the rows of ``PG_CATALOG_QUERY``.
    ``to_df(face_rows, raw_schema)`` turns one face's rows, tag
    removed, into a DataFrame; trailing padding fields are beyond
    ``raw_schema`` and are left for it to drop."""
    by_face: dict[str, list] = {face: [] for face in FACES}
    for face, *fields in rows:
        by_face[face].append(fields)
    return tuple(_contract(face, to_df(by_face[face], _RAW_SCHEMAS[face])) for face in FACES)
