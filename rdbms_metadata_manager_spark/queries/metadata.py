"""The reference's flagship pipeline as a driver-checkable query.

``schema_issues`` runs the full 5-rule engine on the ecommerce_db
fixture; the oracle is the SAME rule semantics written as one ANSI
SQL statement over ``VALUES`` clauses generated from the SAME fixture
tuples (catalog.fixtures) — so Spark and DuckDB provably consume
identical input. This is the differential test SURVEY.md §5.2(3)
calls for.

The oracle needs no testdata views: it is fully self-contained SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fixtures
from ..rules import detect_schema_flaws


def schema_issues(spark: SparkSession, sf_dir: str) -> DataFrame:  # sf_dir unused: metadata fixture input
    return detect_schema_flaws(
        fixtures.columns_meta(spark, "ecommerce_db"),
        fixtures.indexes_meta(spark, "ecommerce_db"),
        fixtures.foreign_keys_meta(spark, "ecommerce_db"),
    )


def schema_issues_quirks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return detect_schema_flaws(
        fixtures.columns_meta(spark, "quirks_db"),
        fixtures.indexes_meta(spark, "quirks_db"),
        fixtures.foreign_keys_meta(spark, "quirks_db"),
    )


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, list):
        return "[" + ", ".join(_lit(x) for x in v) + "]"
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows: list[tuple]) -> str:
    return ",\n    ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)


def _rules_oracle_sql(columns: list[tuple], indexes: list[tuple], fks: list[tuple]) -> str:
    """The 5 rules (reference app.py:41-105) as one SQL statement."""
    return f"""
WITH columns_meta(database, table_name, column_name, ordinal, data_type,
                  char_max_length, is_nullable, is_unique, is_primary_key) AS (
  VALUES
    {_values(columns)}
),
indexes_meta(database, table_name, index_name, column_name, idx_unique) AS (
  VALUES
    {_values(indexes)}
),
foreign_keys_meta(database, table_name, constraint_name, constrained_columns,
                  referred_table, referred_columns) AS (
  VALUES
    {_values(fks)}
),
indexed AS (
  SELECT DISTINCT database, table_name, column_name FROM indexes_meta
),
fk_first AS (
  SELECT DISTINCT database, table_name, constrained_columns[1] AS column_name
  FROM foreign_keys_meta
  WHERE len(constrained_columns) > 0
),
r1 AS (
  SELECT c.table_name, c.column_name,
         'Query performance - missing index' AS issue_type,
         'Large ' || c.data_type || ' column ''' || c.column_name || ''' in '''
            || c.table_name || ''' is not indexed.' AS issue,
         'Add an index on ''' || c.table_name || '(' || c.column_name
            || ')'' to improve query performance.' AS recommendation,
         1 AS rule_id
  FROM columns_meta c
  WHERE c.data_type IN ('VARCHAR', 'TEXT')
    AND c.char_max_length IS NOT NULL AND c.char_max_length >= 255
    AND COALESCE(c.is_unique, FALSE) = FALSE
    AND NOT EXISTS (SELECT 1 FROM indexed i
                    WHERE i.database = c.database AND i.table_name = c.table_name
                      AND i.column_name = c.column_name)
),
r2 AS (
  SELECT c.table_name, c.column_name,
         'Normalization - Data integrity' AS issue_type,
         'Potential foreign key column ''' || c.column_name
            || ''' is not properly defined.' AS issue,
         'Define a foreign key constraint and index for ''' || c.column_name
            || ''' referencing the appropriate table and add the correct kind of index. '
            AS recommendation,
         2 AS rule_id
  FROM columns_meta c
  WHERE (lower(c.column_name) LIKE '%id' OR lower(c.column_name) LIKE 'id%')
    AND NOT c.is_primary_key
    AND NOT EXISTS (SELECT 1 FROM fk_first f
                    WHERE f.database = c.database AND f.table_name = c.table_name
                      AND f.column_name = c.column_name)
    AND NOT EXISTS (SELECT 1 FROM indexed i
                    WHERE i.database = c.database AND i.table_name = c.table_name
                      AND i.column_name = c.column_name)
),
r3 AS (
  SELECT c.table_name, c.column_name,
         'Data type - Precision error' AS issue_type,
         'Monetary column ''' || c.column_name || ''' is of type ''' || c.data_type
            || ''', expected DECIMAL or NUMERIC.' AS issue,
         'Consider changing the column ''' || c.table_name || '(' || c.column_name
            || ')'' to DECIMAL or NUMERIC for better precision in monetary calculations.'
            AS recommendation,
         3 AS rule_id
  FROM columns_meta c
  WHERE regexp_matches(lower(c.column_name),
                       'price|amount|total|cost|value|balance|rate')
    AND c.data_type NOT IN ('DECIMAL', 'NUMERIC')
),
expected(lookup_name, expected_type) AS (
  VALUES ('rating', 'FLOAT'), ('created_at', 'DATETIME'), ('order_date', 'DATETIME')
),
r4 AS (
  SELECT c.table_name, c.column_name,
         'Data type mismatch' AS issue_type,
         'Column ''' || c.column_name || ''' has type ''' || c.data_type
            || ''', expected ''' || e.expected_type || '''.' AS issue,
         'Change column ''' || c.table_name || '(' || c.column_name || ')'' to '''
            || e.expected_type || ''' to match the expected type defined' AS recommendation,
         4 AS rule_id
  FROM columns_meta c
  JOIN expected e ON lower(c.column_name) = e.lookup_name
  WHERE c.data_type <> e.expected_type
),
r5 AS (
  SELECT c.table_name, c.column_name,
         'Data Integrity - NULL values not allowed' AS issue_type,
         'Critical column ''' || c.column_name || ''' allows NULL values.' AS issue,
         'Alter column ''' || c.table_name || '(' || c.column_name
            || ')'' to NOT NULL to maintain data integrity.' AS recommendation,
         5 AS rule_id
  FROM columns_meta c
  WHERE lower(c.column_name) IN ('email', 'price', 'total_amount', 'order_date', 'rating')
    AND c.is_nullable
)
SELECT table_name AS "table", column_name AS "column",
       issue_type, issue, recommendation, rule_id
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5)
ORDER BY "table", "column", rule_id
"""


SCHEMA_ISSUES_ORACLE = _rules_oracle_sql(
    fixtures.ECOMMERCE_COLUMNS, fixtures.ECOMMERCE_INDEXES, fixtures.ECOMMERCE_FOREIGN_KEYS
)
SCHEMA_ISSUES_QUIRKS_ORACLE = _rules_oracle_sql(
    fixtures.QUIRKS_COLUMNS, fixtures.QUIRKS_INDEXES, fixtures.QUIRKS_FOREIGN_KEYS
)

def schema_issue_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Issues-per-table/type rollup — the summary report the
    reference never had (it printed raw rows only; SURVEY.md §2.2
    flags this as the natural v1 extension)."""
    from pyspark.sql import functions as F

    return (
        schema_issues(spark, sf_dir)
        .groupBy("table", "issue_type")
        .agg(F.count("*").alias("n_issues"))
        .orderBy("table", "issue_type")
    )


_SUMMARY_ORACLE = f"""
SELECT "table", issue_type, count(*) AS n_issues
FROM ({SCHEMA_ISSUES_ORACLE})
GROUP BY "table", issue_type
ORDER BY "table", issue_type
"""


def pyds_catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog columns face read through the Spark 4 Python
    DataSource (``sources/pyds.py``) instead of in-memory rows —
    proves the partition-per-table custom-source path end to end.
    sf_dir unused: metadata fixture input. is_unique is omitted from
    the projection (all-NULL boolean; a VALUES oracle can't type it)."""
    from ..sources import read_catalog_fixture

    return read_catalog_fixture(spark, face="columns", dataset="ecommerce").select(
        "table_name",
        "column_name",
        "ordinal",
        "data_type",
        "char_max_length",
        "is_nullable",
        "is_primary_key",
    ).orderBy("table_name", "ordinal")


def _pyds_columns_oracle() -> str:
    from ..catalog.fixtures import ECOMMERCE_COLUMNS

    return f"""
WITH columns_meta(database, table_name, column_name, ordinal, data_type,
                  char_max_length, is_nullable, is_unique, is_primary_key) AS (
  VALUES
    {_values(ECOMMERCE_COLUMNS)}
)
SELECT table_name, column_name, ordinal, data_type, char_max_length,
       is_nullable, is_primary_key
FROM columns_meta
ORDER BY table_name, ordinal
"""


PII_DIRECT_RX = "(email|username|first_name|last_name|full_name|phone|ssn|address)"
# Short risky tokens are underscore/boundary-anchored (ADVICE r4 #2):
# bare substrings 'age'/'dob'/'zip' would flag message, image_url,
# page_views, storage_tier, adobe_id, zipper_sku as quasi-PII on real
# catalogs. '(^|_)tok($|_)' matches the token only as a full
# underscore-delimited word — identical semantics in Java regex and
# RE2 (both rlike/regexp_matches are unanchored searches, so the
# explicit anchors are load-bearing).
PII_QUASI_RX = "(user_id|birth|(^|_)dob($|_)|(^|_)zip($|_)|postal|gender|(^|_)age($|_))"


def catalog_pii_risk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-risk classification of the CATALOG's column names — the
    metadata-plane twin of [[pii_redaction]] and the sixth rule the
    reference's linter (app.py:41-105) is begging for: before any
    table is replicated into a training corpus, the schema itself is
    triaged (direct identifiers → redact/hash at ingest; linkage
    quasi-identifiers → generalize; the rest pass). Name-pattern
    triage is exactly how production scanners (e.g. DLP column
    classifiers) do the first pass. sf_dir unused: metadata fixture
    input, like [[schema_issues]].

    Cross-engine regex: lowercase alternations of literal words —
    identical semantics in Java regex and RE2. Scale: a pure
    projection over the catalog relation (thousands of rows even at
    100 TB of data — metadata is small)."""
    cols = fixtures.columns_meta(spark)
    lname = F.lower(F.col("column_name"))
    risk = (
        F.when(lname.rlike(PII_DIRECT_RX), F.lit("direct"))
        .when(lname.rlike(PII_QUASI_RX), F.lit("quasi"))
        .otherwise(F.lit("none"))
    )
    action = (
        F.when(lname.rlike(PII_DIRECT_RX), F.lit("redact_or_hash_at_ingest"))
        .when(lname.rlike(PII_QUASI_RX), F.lit("generalize_or_band"))
        .otherwise(F.lit("pass"))
    )
    return (
        cols.select(
            "table_name",
            "column_name",
            "data_type",
            risk.alias("pii_risk"),
            action.alias("recommended_action"),
        )
        .orderBy("table_name", "column_name")
    )


def _pii_scan_oracle() -> str:
    from ..catalog.fixtures import ECOMMERCE_COLUMNS

    direct = f"regexp_matches(lower(column_name), '{PII_DIRECT_RX}')"
    quasi = f"regexp_matches(lower(column_name), '{PII_QUASI_RX}')"
    return f"""
WITH columns_meta(database, table_name, column_name, ordinal, data_type,
                  char_max_length, is_nullable, is_unique, is_primary_key) AS (
  VALUES
    {_values(ECOMMERCE_COLUMNS)}
)
SELECT table_name, column_name, data_type,
       CASE WHEN {direct} THEN 'direct'
            WHEN {quasi} THEN 'quasi'
            ELSE 'none' END AS pii_risk,
       CASE WHEN {direct} THEN 'redact_or_hash_at_ingest'
            WHEN {quasi} THEN 'generalize_or_band'
            ELSE 'pass' END AS recommended_action
FROM columns_meta
ORDER BY table_name, column_name
"""



# Naming-convention lint. Tokens valid in both Java regex and RE2.
SNAKE_RX = "^[a-z][a-z0-9_]*$"
RESERVED_WORDS = ["order", "user", "group", "key", "index", "table", "select", "date", "desc"]
NAME_MAX_LEN = 30


def naming_convention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naming-convention lint over the catalog — the style rule the
    reference's five semantic rules stop short of: mixed-case
    identifiers force quoting and break on case-sensitive filesystems
    (MySQL's lower_case_table_names trap), reserved words force
    quoting everywhere, and over-long names truncate on some engines.
    One row per column with the three flags and a verdict; the
    ecommerce fixture is non-vacuous (every PascalCase table fails
    the snake check). sf_dir unused: metadata-plane, like
    [[schema_issues]]. Scale: pure projection over the catalog
    relation — metadata is small at any corpus size."""
    return _naming_audit(fixtures.columns_meta(spark))


def _naming_audit(cols: DataFrame) -> DataFrame:
    reserved = F.array(*[F.lit(w) for w in RESERVED_WORDS])
    tbl_ok = F.col("table_name").rlike(SNAKE_RX)
    col_ok = F.col("column_name").rlike(SNAKE_RX)
    # reserved words force quoting EVERYWHERE — a table named 'order'
    # is the canonical case, so both identifiers are checked
    res = F.array_contains(reserved, F.lower(F.col("column_name"))) | F.array_contains(
        reserved, F.lower(F.col("table_name"))
    )
    too_long = F.length("column_name") > NAME_MAX_LEN
    return (
        cols.select(
            "table_name",
            "column_name",
            tbl_ok.alias("table_snake_ok"),
            col_ok.alias("column_snake_ok"),
            res.alias("reserved_word"),
            too_long.alias("too_long"),
            F.when(~tbl_ok | ~col_ok | res | too_long, "rename_recommended")
            .otherwise("ok")
            .alias("verdict"),
        )
        .orderBy("table_name", "column_name")
    )


def _naming_oracle() -> str:
    from ..catalog.fixtures import ECOMMERCE_COLUMNS

    words = ", ".join(f"'{w}'" for w in RESERVED_WORDS)
    return f"""
WITH columns_meta(database, table_name, column_name, ordinal, data_type,
                  char_max_length, is_nullable, is_unique, is_primary_key) AS (
  VALUES
    {_values(ECOMMERCE_COLUMNS)}
)
SELECT table_name, column_name,
       regexp_matches(table_name, '{SNAKE_RX}') AS table_snake_ok,
       regexp_matches(column_name, '{SNAKE_RX}') AS column_snake_ok,
       (list_contains([{words}], lower(column_name))
         OR list_contains([{words}], lower(table_name))) AS reserved_word,
       length(column_name) > {NAME_MAX_LEN} AS too_long,
       CASE WHEN NOT regexp_matches(table_name, '{SNAKE_RX}')
              OR NOT regexp_matches(column_name, '{SNAKE_RX}')
              OR list_contains([{words}], lower(column_name))
              OR list_contains([{words}], lower(table_name))
              OR length(column_name) > {NAME_MAX_LEN}
            THEN 'rename_recommended' ELSE 'ok' END AS verdict
FROM columns_meta
ORDER BY table_name, column_name
"""


def index_redundancy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-redundancy lint — the write-amplification counterpart of
    the reference's missing-index rules (app.py:41-63 flag ABSENT
    indexes; this flags SUPERFLUOUS ones): per table, the index
    count, how many index-name PAIRS cover the identical column set
    (duplicate indexes — pure write cost), and how many non-unique
    indexes are shadowed by another index on the same columns plus
    uniqueness. The shipped fixtures are deliberately clean (0s), so
    the detection path is exercised by a crafted catalog in
    tests/test_round5_ops.py; the per-table summary rows keep the
    registered face non-vacuous. Scale: catalog-sized self-join,
    grouped on (table, column set) — metadata-plane."""
    return _index_redundancy(fixtures.indexes_meta(spark))


def _index_redundancy(idx: DataFrame) -> DataFrame:
    per_index = idx.groupBy("table_name", "index_name").agg(
        F.sort_array(F.collect_list("column_name")).alias("cols"),
        F.max(F.col("is_unique").cast("int")).alias("uniq"),
    )
    a = per_index.select(
        "table_name",
        F.col("index_name").alias("ix_a"),
        F.col("cols").alias("cols_a"),
        F.col("uniq").alias("uniq_a"),
    )
    b = per_index.select(
        "table_name",
        F.col("index_name").alias("ix_b"),
        F.col("cols").alias("cols_b"),
        F.col("uniq").alias("uniq_b"),
    )
    pairs = a.join(b, "table_name").filter(F.col("ix_a") < F.col("ix_b"))
    dup = (F.col("cols_a") == F.col("cols_b")).cast("long")
    # shadowed: same column set, one unique one not — the non-unique
    # index adds nothing the unique one doesn't already provide
    shadowed = (
        (F.col("cols_a") == F.col("cols_b")) & (F.col("uniq_a") != F.col("uniq_b"))
    ).cast("long")
    pair_stats = pairs.groupBy("table_name").agg(
        F.sum(dup).alias("n_duplicate_pairs"),
        F.sum(shadowed).alias("n_shadowed_pairs"),
    )
    base = per_index.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("n_indexes"),
        F.sum("uniq").alias("n_unique_indexes"),
    )
    return (
        base.join(pair_stats, "table_name", "left")
        .select(
            "table_name",
            "n_indexes",
            F.col("n_unique_indexes").cast("bigint").alias("n_unique_indexes"),
            F.coalesce("n_duplicate_pairs", F.lit(0)).alias("n_duplicate_pairs"),
            F.coalesce("n_shadowed_pairs", F.lit(0)).alias("n_shadowed_pairs"),
        )
        .orderBy("table_name")
    )


def _index_redundancy_oracle() -> str:
    from ..catalog.fixtures import ECOMMERCE_INDEXES

    return f"""
WITH indexes_meta(database, table_name, index_name, column_name, is_unique) AS (
  VALUES
    {_values(ECOMMERCE_INDEXES)}
),
per_index AS (
  SELECT table_name, index_name,
         list_sort(list(column_name)) AS cols,
         max(CASE WHEN is_unique THEN 1 ELSE 0 END) AS uniq
  FROM indexes_meta GROUP BY table_name, index_name
),
pairs AS (
  SELECT a.table_name,
         CASE WHEN a.cols = b.cols THEN 1 ELSE 0 END AS dup,
         CASE WHEN a.cols = b.cols AND a.uniq != b.uniq THEN 1 ELSE 0 END AS sh
  FROM per_index a JOIN per_index b
    ON a.table_name = b.table_name AND a.index_name < b.index_name
),
pair_stats AS (
  SELECT table_name, sum(dup) AS n_duplicate_pairs, sum(sh) AS n_shadowed_pairs
  FROM pairs GROUP BY table_name
),
base AS (
  SELECT table_name, count(*)::BIGINT AS n_indexes,
         sum(uniq)::BIGINT AS n_unique_indexes
  FROM per_index GROUP BY table_name
)
SELECT b.table_name, b.n_indexes, b.n_unique_indexes,
       coalesce(p.n_duplicate_pairs, 0)::BIGINT AS n_duplicate_pairs,
       coalesce(p.n_shadowed_pairs, 0)::BIGINT AS n_shadowed_pairs
FROM base b LEFT JOIN pair_stats p ON b.table_name = p.table_name
ORDER BY b.table_name
"""


# Candidate (child_table.child_col → parent_table.parent_col)
# inclusion dependencies, generated by the key-column naming/type
# heuristic a catalog crawler would apply to this star schema (every
# *key/ *_id column paired with each same-stem key column).  The
# list deliberately includes reverse-direction probes (c_custkey →
# o_custkey, p_partkey → l_partkey, …) whose inclusion only holds
# partially — a discovery report that can't say "no" is not a
# discovery report.  Single source of truth: the Spark plan AND the
# DuckDB oracle are both generated from this literal.
_INCLUSION_SPEC: list[tuple[str, str, str, str]] = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("region", "r_regionkey", "nation", "n_regionkey"),
]


def _inclusion_sides() -> tuple[dict[str, list[str]], dict[str, list[str]]]:
    child_cols: dict[str, list[str]] = {}
    parent_cols: dict[str, list[str]] = {}
    for ct, cc, pt, pc in _INCLUSION_SPEC:
        child_cols.setdefault(ct, [])
        if cc not in child_cols[ct]:
            child_cols[ct].append(cc)
        parent_cols.setdefault(pt, [])
        if pc not in parent_cols[pt]:
            parent_cols[pt].append(pc)
    return child_cols, parent_cols


def fk_inclusion_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency mining over the star schema — the
    metadata manager's DISCOVERY twin: the reference lints columns it
    is TOLD are keys (rules 1–5, app.py:36-96); this measures, from
    the data, which candidate column pairs actually satisfy the
    referential containment an FK would require
    ([[dq_referential_integrity]] validates the declared FKs;
    [[constraint_mining]] checks per-table constraints; this ranks
    UNDECLARED cross-table candidates). Per candidate pair:
    containment (child distinct values found in parent, per-mille)
    and coverage (parent distinct values referenced, per-mille);
    verdict 'holds' only at exactly 1000‰ containment. NULLs are
    ignored on both sides (SQL FK semantics).

    Scale: each table is scanned ONCE, column-pruned to its key
    columns, melted to (table, col, value) rows; DISTINCT is one
    keyed shuffle per side; containment is a hash join on
    (table, col, value) — fact-sized relations are never broadcast
    (only the 12-row spec and the per-pair aggregates are). The
    distinct relations are exactly the FK key domains, the same
    cardinality any FK validation pays at 100 TB."""
    from .base import load

    # Flags-per-value kernel (shared doctrine with
    # join_cardinality_audit): ONE scan + melt per table covering
    # every audited (table, column) pair, ONE groupBy on the raw value
    # computing a presence flag per pair (map-side partial aggregation
    # collapses duplicates, so the DISTINCT is subsumed), then ONE
    # global aggregate folding every spec pair's containment/coverage
    # counts — |C∩P| = Σ_v child_flag·parent_flag. The previous shape
    # shuffled two distinct relations and ran a 3-part string-keyed
    # fact join per invocation (18 Spark jobs, extra exchanges
    # carrying the table/column names on every row); this is 2
    # exchanges total and no string keys leave the driver
    # (guide §2.3/§2.4: shuffle a few bytes of flags, not name-tagged
    # payload rows; decide everything in one aggregate).
    col_ids: dict[tuple[str, str], int] = {}
    for ct, cc, pt, pc in _INCLUSION_SPEC:
        for t, c in ((ct, cc), (pt, pc)):
            col_ids.setdefault((t, c), len(col_ids))
    per_table: dict[str, list[tuple[str, int]]] = {}
    for (t, c), cid in col_ids.items():
        per_table.setdefault(t, []).append((c, cid))
    melted = None
    for tbl in sorted(per_table):
        entries = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("cid"), F.col(c).cast("long").alias("v")
                )
                for c, cid in per_table[tbl]
            ]
        )
        part = (
            load(spark, sf_dir, tbl)
            .select(F.explode(entries).alias("e"))
            .select("e.cid", "e.v")
            .filter(F.col("v").isNotNull())
        )
        melted = part if melted is None else melted.unionAll(part)
    flags = melted.groupBy("v").agg(
        *[
            F.max(F.when(F.col("cid") == cid, F.lit(1))).alias(f"f{cid}")
            for cid in range(len(col_ids))
        ]
    )
    spec_aggs = []
    for i, (ct, cc, pt, pc) in enumerate(_INCLUSION_SPEC):
        ci, pi = col_ids[(ct, cc)], col_ids[(pt, pc)]
        spec_aggs += [
            F.count(f"f{ci}").alias(f"nc_{i}"),
            F.count(f"f{pi}").alias(f"np_{i}"),
            F.count(
                F.when((F.col(f"f{ci}") == 1) & (F.col(f"f{pi}") == 1), F.lit(1))
            ).alias(f"cont_{i}"),
        ]
    stats = flags.agg(*spec_aggs)
    per_pair = [
        F.struct(
            F.lit(ct).alias("child_table"),
            F.lit(cc).alias("child_col"),
            F.lit(pt).alias("parent_table"),
            F.lit(pc).alias("parent_col"),
            F.col(f"nc_{i}").alias("n_child_distinct"),
            F.col(f"np_{i}").alias("n_parent_distinct"),
            F.col(f"cont_{i}").alias("n_contained"),
        )
        for i, (ct, cc, pt, pc) in enumerate(_INCLUSION_SPEC)
    ]
    return (
        stats.select(F.explode(F.array(*per_pair)).alias("e"))
        .select("e.*")
        .select(
            F.expr("child_table || '.' || child_col").alias("child_ref"),
            F.expr("parent_table || '.' || parent_col").alias("parent_ref"),
            F.coalesce("n_child_distinct", F.lit(0)).cast("bigint").alias(
                "n_child_distinct"
            ),
            F.coalesce("n_parent_distinct", F.lit(0)).cast("bigint").alias(
                "n_parent_distinct"
            ),
            F.coalesce("n_contained", F.lit(0)).cast("bigint").alias("n_contained"),
            F.expr(
                "CASE WHEN coalesce(n_child_distinct, 0) = 0 THEN NULL ELSE"
                " CAST((1000 * coalesce(n_contained, 0))"
                " div n_child_distinct AS BIGINT) END"
            ).alias("containment_pm"),
            F.expr(
                "CASE WHEN coalesce(n_parent_distinct, 0) = 0 THEN NULL ELSE"
                " CAST((1000 * coalesce(n_contained, 0))"
                " div n_parent_distinct AS BIGINT) END"
            ).alias("coverage_pm"),
        )
        .withColumn(
            "verdict",
            F.expr(
                "CASE WHEN containment_pm IS NULL THEN 'empty'"
                " WHEN containment_pm = 1000 THEN 'holds'"
                " WHEN containment_pm >= 990 THEN 'near' ELSE 'no' END"
            ),
        )
        .orderBy("child_ref", "parent_ref")
    )


def _inclusion_oracle() -> str:
    child_cols, parent_cols = _inclusion_sides()

    def melt_sql(side: dict[str, list[str]]) -> str:
        selects = [
            f"SELECT '{tbl}' AS tbl, '{c}' AS col, {c}::BIGINT AS v"
            f" FROM {tbl} WHERE {c} IS NOT NULL"
            for tbl in sorted(side)
            for c in side[tbl]
        ]
        return " UNION ALL ".join(selects)

    values = ", ".join(
        f"('{ct}', '{cc}', '{pt}', '{pc}')" for ct, cc, pt, pc in _INCLUSION_SPEC
    )
    return f"""
WITH child_long AS (SELECT DISTINCT * FROM ({melt_sql(child_cols)})),
parent_long AS (SELECT DISTINCT * FROM ({melt_sql(parent_cols)})),
spec AS (
  SELECT * FROM (VALUES {values})
    AS t(child_table, child_col, parent_table, parent_col)
),
pairs AS (
  SELECT child_table, child_col, parent_table, parent_col, v
  FROM child_long JOIN spec ON tbl = child_table AND col = child_col
),
contained AS (
  SELECT child_table, child_col, parent_table, parent_col,
         count(*)::BIGINT AS n_child_distinct,
         sum(CASE WHEN pl.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contained
  FROM pairs p
  LEFT JOIN parent_long pl
    ON pl.tbl = p.parent_table AND pl.col = p.parent_col AND pl.v = p.v
  GROUP BY 1, 2, 3, 4
),
pcnt AS (
  SELECT tbl, col, count(*)::BIGINT AS n_parent_distinct
  FROM parent_long GROUP BY 1, 2
),
joined AS (
  SELECT s.child_table || '.' || s.child_col AS child_ref,
         s.parent_table || '.' || s.parent_col AS parent_ref,
         coalesce(c.n_child_distinct, 0)::BIGINT AS n_child_distinct,
         coalesce(p.n_parent_distinct, 0)::BIGINT AS n_parent_distinct,
         coalesce(c.n_contained, 0)::BIGINT AS n_contained,
         CASE WHEN coalesce(c.n_child_distinct, 0) = 0 THEN NULL ELSE
           CAST((1000 * coalesce(c.n_contained, 0))
                // c.n_child_distinct AS BIGINT) END AS containment_pm,
         CASE WHEN coalesce(p.n_parent_distinct, 0) = 0 THEN NULL ELSE
           CAST((1000 * coalesce(c.n_contained, 0))
                // p.n_parent_distinct AS BIGINT) END AS coverage_pm
  FROM spec s
  LEFT JOIN contained c USING (child_table, child_col, parent_table, parent_col)
  LEFT JOIN pcnt p ON s.parent_table = p.tbl AND s.parent_col = p.col
)
SELECT *, CASE WHEN containment_pm IS NULL THEN 'empty'
               WHEN containment_pm = 1000 THEN 'holds'
               WHEN containment_pm >= 990 THEN 'near' ELSE 'no' END AS verdict
FROM joined
ORDER BY child_ref, parent_ref
"""


QUERIES = (
    (schema_issues, SCHEMA_ISSUES_ORACLE),
    (fk_inclusion_discovery, _inclusion_oracle()),
    (schema_issues_quirks, SCHEMA_ISSUES_QUIRKS_ORACLE),
    (schema_issue_summary, _SUMMARY_ORACLE),
    (pyds_catalog_columns, _pyds_columns_oracle()),
    (catalog_pii_risk_scan, _pii_scan_oracle()),
    (naming_convention_audit, _naming_oracle()),
    (index_redundancy_audit, _index_redundancy_oracle()),
)
