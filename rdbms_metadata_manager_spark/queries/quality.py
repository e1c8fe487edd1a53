"""Data-quality expectation suite over the warehouse tables.

[beyond-reference] the reference audits *metadata* quality
(`/root/reference/app.py:36-99` — five schema rules); a data engine at
100 TB also needs *data* quality checks, in the Deequ/expectations
style: declarative constraints evaluated in one pass, emitted as a
per-check report row (check name, measured metric, pass flag).

Two operators:

- ``dq_expectations_orders`` — single-pass constraint metrics on one
  table (row count, key uniqueness, null counts, range/set-membership
  violations). ONE full-table aggregate computes every metric
  map-side-partial (all counters are mutable-buffer longs, so the
  whole thing stays in one HashAggregate pair); the 1-row result is
  unpivoted driver-free via ``stack`` into the report shape. At
  100 TB this is the cheapest possible audit: one scan, no shuffle
  beyond a 1-row exchange.

- ``dq_referential_integrity`` — orphan counts for every FK edge of
  the star schema. Each edge is a LEFT ANTI join from child to
  parent, collapsed to a count. Parents that are small at any scale
  (nation, region) are broadcast explicitly; the big edges
  (lineitem→orders/part/supplier, orders→customer) are left to
  AQE, which picks broadcast at small SF and shuffle joins at
  100 TB — correctness does not depend on the strategy. Counts-only
  output keeps the shuffle payload to the join keys.

Everything is integer arithmetic — exact cross-engine hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load

# (check_name, violation-metric SQL over orders, pass condition on the metric)
# shared by the Spark query and the DuckDB oracle: both engines
# evaluate the same conditional counters in one aggregate.
_ORDER_CHECKS: list[tuple[str, str, str]] = [
    ("row_count_positive", "count(*)", "m > 0"),
    ("orderkey_unique", "count(*) - count(DISTINCT o_orderkey)", "m = 0"),
    ("custkey_complete", "count(*) - count(o_custkey)", "m = 0"),
    ("totalprice_positive", "count_if(o_totalprice <= 0)", "m = 0"),
    ("status_in_domain", "count_if(o_orderstatus NOT IN ('O', 'F', 'P'))", "m = 0"),
    (
        "orderdate_in_range",
        "count_if(o_orderdate < DATE '1992-01-01' OR o_orderdate > DATE '2005-12-31')",
        "m = 0",
    ),
    ("priority_complete", "count_if(o_orderpriority IS NULL OR o_orderpriority = '')", "m = 0"),
]


def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    metrics = orders.agg(
        *[F.expr(expr).cast("bigint").alias(f"m{i}") for i, (_, expr, _) in enumerate(_ORDER_CHECKS)]
    )
    # unpivot the 1-row metric vector into report rows; the pass flag
    # re-evaluates each check's condition on its own metric column.
    stack_args = ", ".join(
        f"'{name}', m{i}, {cond.replace('m ', f'm{i} ')}" for i, (name, _, cond) in enumerate(_ORDER_CHECKS)
    )
    return (
        metrics.select(
            F.expr(f"stack({len(_ORDER_CHECKS)}, {stack_args}) AS (check_name, metric, passed)")
        )
        .orderBy("check_name")
    )


_DQ_EXPECT_SQL = (
    "WITH m AS (SELECT "
    + ", ".join(f"CAST({expr} AS BIGINT) AS m{i}" for i, (_, expr, _) in enumerate(_ORDER_CHECKS))
    + " FROM orders) SELECT check_name, metric, passed FROM ("
    + " UNION ALL ".join(
        f"SELECT '{name}' AS check_name, m{i} AS metric, {cond.replace('m ', f'm{i} ')} AS passed FROM m"
        for i, (name, _, cond) in enumerate(_ORDER_CHECKS)
    )
    + ") ORDER BY check_name"
)


# FK edges of the star schema: (edge label, child table, child key,
# parent table, parent key, parent-is-tiny → broadcast explicitly).
_FK_EDGES: list[tuple[str, str, str, str, str, bool]] = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", True),
]


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One scan per CHILD table (not per edge): each row emits an
    # (edge, key) pair per FK column via inline(), then a single
    # groupBy(edge, key) with map-side partial aggregation collapses
    # the pairs to distinct keys + multiplicities — the shuffle
    # payload is Σ distinct keys per edge, far below the naive
    # 7-anti-join plan's per-edge child rescans (lineitem was read
    # 3×).  All child key tables and all parent key sets then meet in
    # ONE left-anti join on (edge, key); orphan multiplicities sum per
    # edge and a 7-row literal backbone zero-fills intact edges.  At
    # 100 TB: one pass over each fact table's key columns, one
    # key-sized shuffle, one join — no broadcast assumption on the
    # big parents (AQE still broadcasts the small ones).
    import pandas as pd

    # Integer edge ids in the exploded pairs and join keys — the
    # human-readable labels (≈25 B each) would otherwise ride every
    # one of the exploded rows; the id is 1 B and the label joins
    # back on via the 7-row backbone at the very end.
    edge_id = {e[0]: i for i, e in enumerate(_FK_EDGES)}

    by_child: dict[str, list[tuple[int, str]]] = {}
    for label, child, ckey, _parent, _pkey, _tiny in _FK_EDGES:
        by_child.setdefault(child, []).append((edge_id[label], ckey))

    child_parts = []
    for child, edges in by_child.items():
        pairs = ", ".join(
            f"({eid}, CAST({ckey} AS BIGINT))" for eid, ckey in edges
        )
        child_parts.append(
            load(spark, sf_dir, child)
            .select(F.expr(f"inline(array({pairs}))").alias("e", "k"))
            .filter(F.col("k").isNotNull())  # NULL = "no reference", not orphan
        )
    child_keys = child_parts[0]
    for p in child_parts[1:]:
        child_keys = child_keys.unionByName(p)
    child_keys = child_keys.groupBy("e", "k").agg(F.count(F.lit(1)).alias("cnt"))

    parent_parts = []
    for label, _child, _ckey, parent, pkey, _tiny in _FK_EDGES:
        parent_parts.append(
            load(spark, sf_dir, parent).select(
                F.lit(edge_id[label]).alias("e"),
                F.col(pkey).cast("bigint").alias("k"),
            )
        )
    parents = parent_parts[0]
    for p in parent_parts[1:]:
        parents = parents.unionByName(p)

    orphan_counts = (
        child_keys.join(parents, ["e", "k"], "left_anti")
        .groupBy("e")
        .agg(F.sum("cnt").alias("orphan_rows"))
    )
    backbone = spark.createDataFrame(
        pd.DataFrame(
            {"e": list(edge_id.values()), "fk_edge": list(edge_id)}
        )
    )
    return (
        F.broadcast(backbone)
        .join(orphan_counts, "e", "left")
        .select(
            "fk_edge",
            F.coalesce("orphan_rows", F.lit(0)).alias("orphan_rows"),
        )
        .withColumn("intact", F.col("orphan_rows") == 0)
        .orderBy("fk_edge")
    )


_DQ_FK_SQL = (
    "SELECT fk_edge, orphan_rows, orphan_rows = 0 AS intact FROM ("
    + " UNION ALL ".join(
        f"SELECT '{label}' AS fk_edge, "
        f"(SELECT count(*) FROM {child} c WHERE c.{ckey} IS NOT NULL "
        f"AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey})) AS orphan_rows"
        for label, child, ckey, parent, pkey, _ in _FK_EDGES
    )
    + ") ORDER BY fk_edge"
)


# Benford's-law expected first-digit frequencies, in per-mille:
# round(1000 * log10(1 + 1/d)).  Hard-coded literals (not computed)
# so neither engine touches libm log10 — the cross-engine float trap.
_BENFORD_PERMILLE = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over lineitem measures —
    the forensic data-quality screen for fabricated or truncated
    numeric columns: natural multi-magnitude amounts follow
    log10(1+1/d); synthetic or clamped generators don't, and the
    deviation column quantifies by how much (TPC-H prices span only
    ~2 decades, so the audit *should* flag them — a non-vacuous
    report).

    Plan: ONE lineitem scan; each row emits (measure, digit) pairs
    for both audited columns via a 2-element array explode (constant
    ×2 fanout, no second scan), then a 18-group map-side-partial
    aggregate.  The per-measure total rides a 9-row window — driver
    never sees row data.  First digit is extracted through an exact
    integer route (floor → bigint → string head), never log10.
    """
    li = load(spark, sf_dir, "lineitem")

    def digit(col: str):
        return F.substring(F.floor(col).cast("bigint").cast("string"), 1, 1).cast("int")

    pairs = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_extendedprice").alias("measure"),
                    digit("l_extendedprice").alias("digit"),
                ),
                F.struct(
                    F.lit("l_quantity").alias("measure"),
                    digit("l_quantity").alias("digit"),
                ),
            )
        ).alias("p")
    ).select("p.measure", "p.digit").where(F.col("digit") >= 1)

    from pyspark.sql.window import Window

    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PERMILLE.items() for x in kv]
    )[F.col("digit")]
    return (
        pairs.groupBy("measure", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy("measure")))
        .select(
            "measure",
            "digit",
            "n",
            F.expr("(1000 * n) div total").alias("observed_permille"),
            expected.alias("expected_permille"),
        )
        .withColumn(
            "deviation_permille",
            F.abs(F.col("observed_permille") - F.col("expected_permille")),
        )
        .orderBy("measure", "digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PERMILLE.items()
)

_BENFORD_SQL = f"""
WITH pairs AS (
  SELECT 'l_extendedprice' AS measure,
         CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM lineitem
  UNION ALL
  SELECT 'l_quantity',
         CAST(substr(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
  FROM lineitem
),
counts AS (
  SELECT measure, digit, count(*) AS n
  FROM pairs WHERE digit >= 1 GROUP BY 1, 2
),
tot AS (
  SELECT measure, digit, n,
         CAST(SUM(n) OVER (PARTITION BY measure) AS BIGINT) AS total
  FROM counts
)
SELECT measure, digit, n,
       (1000 * n) // total AS observed_permille,
       (CASE digit {_BENFORD_CASE} END)::INTEGER AS expected_permille,
       abs((1000 * n) // total - CASE digit {_BENFORD_CASE} END)::BIGINT AS deviation_permille
FROM tot
ORDER BY measure, digit
"""


ERASURE_MOD = 1000
ERASURE_RESIDUE = 7  # deterministic subject cohort: c_custkey % 1000 == 7


def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact audit: for a subject cohort (here the
    deterministic c_custkey % 1000 == 7 stand-in for a deletion
    request list), count the rows each table would lose — customer
    rows directly, orders via the customer FK, lineitems via the
    order FK — plus each table's integer per-mille share. The
    pre-flight every GDPR/CCPA deletion pipeline runs before issuing
    the cascade, and the data-plane mirror of the reference's FK
    awareness (its Rule-2 id-column heuristic, app.py:52-66): the
    cascade path IS the FK graph.

    Scale: the subject keys broadcast into a LEFT SEMI join per fact
    table (no fact-side shuffle at all — plan-pinned); the affected
    order keys are themselves a semi-join result reused for the
    lineitem leg. Totals are map-side counts. At 100 TB this is
    three scans, zero shuffles of table data."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    subjects = customer.filter(
        F.pmod(F.col("c_custkey"), F.lit(ERASURE_MOD)) == ERASURE_RESIDUE
    ).select("c_custkey")
    hit_orders = orders.join(
        F.broadcast(subjects),
        orders["o_custkey"] == subjects["c_custkey"],
        "left_semi",
    )
    hit_lineitem = lineitem.join(
        F.broadcast(hit_orders.select("o_orderkey")),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    legs = []
    for name, hit_df, all_df in (
        ("customer", subjects, customer),
        ("orders", hit_orders, orders),
        ("lineitem", hit_lineitem, lineitem),
    ):
        legs.append(
            hit_df.agg(F.count(F.lit(1)).alias("rows_to_erase")).join(
                all_df.agg(F.count(F.lit(1)).alias("table_rows"))
            ).select(
                F.lit(name).alias("table_name"),
                "rows_to_erase",
                "table_rows",
                F.expr("(rows_to_erase * 1000) div table_rows").alias(
                    "share_permille"
                ),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("table_name")


_ERASURE_SQL = f"""
WITH subjects AS (
  SELECT c_custkey FROM customer
  WHERE ((c_custkey % {ERASURE_MOD}) + {ERASURE_MOD}) % {ERASURE_MOD} = {ERASURE_RESIDUE}
),
hit_orders AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM subjects)
),
legs AS (
  SELECT 'customer' AS table_name,
         (SELECT count(*) FROM subjects)::BIGINT AS rows_to_erase,
         (SELECT count(*) FROM customer)::BIGINT AS table_rows
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM hit_orders)::BIGINT,
         (SELECT count(*) FROM orders)::BIGINT
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM hit_orders))::BIGINT,
         (SELECT count(*) FROM lineitem)::BIGINT
)
SELECT table_name, rows_to_erase, table_rows,
       CAST((rows_to_erase * 1000) // table_rows AS BIGINT) AS share_permille
FROM legs
ORDER BY table_name
"""


# Candidate constraints mined from the data:
_UNIQ_CANDIDATES = (
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"),
)
_FK_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
)
FK_HOLD_PERMILLE = 1000  # containment threshold for "holds"


def constraint_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint DISCOVERY from the data — the inverse of the
    reference's whole premise: app.py:25-107 lints constraints the
    catalog DECLARES; this mines the constraints the data actually
    SATISFIES (candidate primary keys via uniqueness, NOT NULL via
    null counts, candidate foreign keys via value containment), the
    profiling step that feeds a schema advisor when the catalog is
    bare — exactly the situation its Rule-2 id-heuristic guesses at.
    One row per candidate with integer per-mille support and a holds
    flag.

    Scale: uniqueness/NOT-NULL legs FUSE into one aggregate per
    TABLE (count(1) + count/countDistinct per candidate column in a
    single Expand pass, then stack() fans the 1-row result into leg
    rows) — one corpus scan per table instead of two scans per
    candidate column; containment = a distinct-project of the child
    key LEFT SEMI the parent key (parent side broadcast-able for
    dims) — per candidate one thin shuffle bounded by key
    cardinality, unioned at summary size. At 100 TB this is the
    ANALYZE-style pass run per column family, or on samples with the
    same plan."""
    by_table: dict[str, list[str]] = {}
    for table, col in _UNIQ_CANDIDATES:
        by_table.setdefault(table, []).append(col)
    legs = []
    for table, cols in by_table.items():
        t = load(spark, sf_dir, table)
        aggs = [F.count(F.lit(1)).alias("n_all")]
        for c in cols:
            aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
            aggs.append(F.count(c).alias(f"nn_{c}"))
        one = t.agg(*aggs)
        # fan the single aggregated row into the per-(kind, column)
        # leg rows with stack() — projections of one row, no rescan
        tuples = []
        for c in cols:
            tuples.append(
                f"'unique', '{table}.{c}', '', n_all,"
                f" CAST((1000 * nd_{c}) DIV n_all AS BIGINT), nd_{c} = n_all"
            )
            tuples.append(
                f"'not_null', '{table}.{c}', '', n_all,"
                f" CAST((1000 * nn_{c}) DIV n_all AS BIGINT), nn_{c} = n_all"
            )
        legs.append(
            one.select(
                F.expr(
                    f"stack({len(tuples)}, "
                    + ", ".join(tuples)
                    + ") AS (kind, subject, target, n_rows, support_permille, holds)"
                )
            )
        )
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        # NULL child keys are excluded BEFORE the distinct: SQL FK
        # semantics never constrain NULLs, and the oracle's
        # count(DISTINCT child_c) denominator already excludes them —
        # without this filter Spark's .distinct() keeps one NULL row
        # and the support denominators diverge on real nullable FKs
        # (ADVICE r4 #1; null-bearing regression in test_round5_ops).
        child = (
            load(spark, sf_dir, child_t)
            .select(F.col(child_c).alias("k"))
            .filter(F.col("k").isNotNull())
            .distinct()
        )
        parent = load(spark, sf_dir, parent_t).select(F.col(parent_c).alias("k")).distinct()
        # ONE scan of the distinct child keys: a broadcast LEFT join
        # with a parent-side marker computes containment and total in
        # the same aggregate — the previous semi-join + separate total
        # evaluated the child distinct twice and stitched two 1-row
        # relations with a join (guide §1.2). count("hit") counts
        # non-NULL rows = matched keys, exactly the semi-join count
        # (parent is distinct, so the left join never multiplies).
        contained = (
            child.join(
                F.broadcast(parent.withColumn("hit", F.lit(1))), "k", "left"
            ).agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count("hit").alias("n_in"),
            )
        )
        legs.append(
            contained.select(
                F.lit("foreign_key").alias("kind"),
                F.lit(f"{child_t}.{child_c}").alias("subject"),
                F.lit(f"{parent_t}.{parent_c}").alias("target"),
                F.col("n_child").alias("n_rows"),
                F.expr("CAST((1000 * n_in) DIV n_child AS BIGINT)").alias(
                    "support_permille"
                ),
                (F.expr(f"(1000 * n_in) DIV n_child") >= FK_HOLD_PERMILLE).alias(
                    "holds"
                ),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("kind", "subject", "target")


def _constraint_oracle() -> str:
    legs = []
    for table, col in _UNIQ_CANDIDATES:
        legs.append(
            f"""SELECT 'unique' AS kind, '{table}.{col}' AS subject, '' AS target,
       count(*)::BIGINT AS n_rows,
       CAST((1000 * count(DISTINCT {col})) // count(*) AS BIGINT) AS support_permille,
       count(DISTINCT {col}) = count(*) AS holds
FROM {table}"""
        )
        legs.append(
            f"""SELECT 'not_null', '{table}.{col}', '', count(*)::BIGINT,
       CAST((1000 * count({col})) // count(*) AS BIGINT),
       count({col}) = count(*)
FROM {table}"""
        )
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        legs.append(
            f"""SELECT 'foreign_key', '{child_t}.{child_c}', '{parent_t}.{parent_c}',
       (SELECT count(DISTINCT {child_c}) FROM {child_t})::BIGINT,
       CAST((1000 * (SELECT count(*) FROM (SELECT DISTINCT {child_c} FROM {child_t}) c
                     WHERE c.{child_c} IN (SELECT {parent_c} FROM {parent_t})))
            // (SELECT count(DISTINCT {child_c}) FROM {child_t}) AS BIGINT),
       (1000 * (SELECT count(*) FROM (SELECT DISTINCT {child_c} FROM {child_t}) c
                WHERE c.{child_c} IN (SELECT {parent_c} FROM {parent_t})))
         // (SELECT count(DISTINCT {child_c}) FROM {child_t}) >= {FK_HOLD_PERMILLE}
FROM (SELECT 1)"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
SELECT * FROM (
{union}
)
ORDER BY kind, subject, target
"""


_FANOUT_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
]


def fk_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Children-per-parent fanout profile for the big FK edges — the
    join-cardinality numbers a planner (and
    [[join_strategy_advisor]]) needs BEFORE running the join:
    [[dq_referential_integrity]] answers "are there orphans?"; this
    answers "when the join hits, how hard does it fan out?" (max
    fanout is the skew bound, avg×rows is the join output estimate).
    Per edge: parent rows, child rows, distinct referenced parents,
    referenced share in per-mille, and min/max/avg (per-mille)
    children per REFERENCED parent.

    Scale: the child side of each edge collapses to a (key, count)
    rollup with map-side combine (the same one-scan-per-child-table
    inline() trick the orphan audit uses keeps lineitem to a single
    pass for its two edges); the parent side contributes only a key
    projection; one edge-keyed aggregate of the key-sized relation
    finishes it. All integer."""
    by_child: dict[str, list[tuple[int, str]]] = {}
    for i, (_label, child, ckey, _p, _pk) in enumerate(_FANOUT_EDGES):
        by_child.setdefault(child, []).append((i, ckey))
    child_parts = []
    for child, edges in by_child.items():
        pairs = ", ".join(f"({eid}, CAST({ckey} AS BIGINT))" for eid, ckey in edges)
        child_parts.append(
            load(spark, sf_dir, child)
            .select(F.expr(f"inline(array({pairs}))").alias("e", "k"))
            .filter(F.col("k").isNotNull())
        )
    child_keys = child_parts[0]
    for p in child_parts[1:]:
        child_keys = child_keys.unionByName(p)
    child_keys = child_keys.groupBy("e", "k").agg(F.count(F.lit(1)).alias("cnt"))

    parent_parts = []
    parent_counts = []
    for i, (_label, _c, _ck, parent, pkey) in enumerate(_FANOUT_EDGES):
        pdf = load(spark, sf_dir, parent)
        parent_parts.append(
            pdf.select(F.lit(i).alias("e"), F.col(pkey).cast("bigint").alias("k"))
        )
        parent_counts.append(
            pdf.agg(F.lit(i).alias("e"), F.count(F.lit(1)).alias("n_parents"))
        )
    parents = parent_parts[0]
    for p in parent_parts[1:]:
        parents = parents.unionByName(p)
    np_df = parent_counts[0]
    for p in parent_counts[1:]:
        np_df = np_df.unionByName(p)

    # ONE pass over the melted (edge, key, count) rollup: a LEFT join
    # against the parent keys with a marker lets the same aggregate
    # produce the matched-side profile AND the per-edge child totals —
    # the previous inner-join + separate totals groupBy evaluated the
    # child_keys subtree (including the full lineitem scan) twice
    # (guide §1.2). Parent keys are the parent tables' primary keys,
    # so the left join never multiplies rows; the conditional
    # aggregates over "hit" reproduce the inner-join profile exactly.
    hit = child_keys.join(
        parents.withColumn("hit", F.lit(1)), ["e", "k"], "left"
    )
    prof = hit.groupBy("e").agg(
        F.sum(F.when(F.col("hit").isNotNull(), F.col("cnt"))).alias(
            "n_matched_children"
        ),
        F.count("hit").alias("n_referenced_parents"),
        F.min(F.when(F.col("hit").isNotNull(), F.col("cnt"))).alias("min_fanout"),
        F.max(F.when(F.col("hit").isNotNull(), F.col("cnt"))).alias("max_fanout"),
        F.sum("cnt").alias("n_children"),
    )
    labels = spark.createDataFrame(
        [(i, e[0]) for i, e in enumerate(_FANOUT_EDGES)], "e long, edge string"
    )
    return (
        labels.join(F.broadcast(np_df), "e")
        .join(F.broadcast(prof), "e")
        .select(
            "edge",
            "n_parents",
            "n_children",
            "n_referenced_parents",
            F.expr(
                "CAST(1000 * n_referenced_parents div n_parents AS BIGINT)"
            ).alias("referenced_permille"),
            "min_fanout",
            "max_fanout",
            F.expr(
                "CAST(1000 * n_matched_children div n_referenced_parents AS BIGINT)"
            ).alias("avg_fanout_permille"),
        )
        .orderBy("edge")
    )


def _fanout_oracle() -> str:
    parts = []
    for label, child, ckey, parent, pkey in _FANOUT_EDGES:
        parts.append(
            f"""
SELECT '{label}' AS edge,
       (SELECT count(*) FROM {parent})::BIGINT AS n_parents,
       (SELECT count(*) FROM {child} WHERE {ckey} IS NOT NULL)::BIGINT
         AS n_children,
       count(*)::BIGINT AS n_referenced_parents,
       CAST(1000 * count(*) // (SELECT count(*) FROM {parent}) AS BIGINT)
         AS referenced_permille,
       CAST(min(cnt) AS BIGINT) AS min_fanout,
       CAST(max(cnt) AS BIGINT) AS max_fanout,
       CAST(1000 * sum(cnt) // count(*) AS BIGINT) AS avg_fanout_permille
FROM (
  SELECT c.{ckey} AS k, count(*) AS cnt
  FROM {child} c
  WHERE c.{ckey} IS NOT NULL
    AND EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.{ckey})
  GROUP BY 1
)"""
        )
    return "SELECT * FROM (\n" + "\nUNION ALL\n".join(parts) + "\n) ORDER BY edge"


QUERIES = (
    (dq_expectations_orders, _DQ_EXPECT_SQL),
    (dq_referential_integrity, _DQ_FK_SQL),
    (fk_fanout_profile, _fanout_oracle()),
    (benford_digit_audit, _BENFORD_SQL),
    (gdpr_erasure_audit, _ERASURE_SQL),
    (constraint_mining, _constraint_oracle()),
)
