"""Spark 4 SQL-surface operators: VARIANT, LATERAL join, recursive CTE.

[beyond-reference] the reference's query surface is five hard-coded
predicates (`/root/reference/app.py:41-105`); a drop-in engine also
needs the modern relational surface users reach for on semi-structured
and hierarchical data:

- ``variant_event_props`` — semi-structured ingestion done right:
  ``parse_json`` into the binary VARIANT type once, then typed
  ``variant_get`` extraction. At 100 TB this is the schema-on-read
  path for event payloads — VARIANT keeps the shredded binary form
  (no per-query string re-parse, unlike ``get_json_object``) and the
  extraction stays whole-stage-codegen.
- ``lateral_top_customers_per_nation`` — correlated LATERAL subquery
  (top-3 per group as a join-shaped query). Catalyst decorrelates
  into a ranked window over one shuffle; the declarative form is the
  point: no driver-side per-group loop.
- ``recursive_balance_replay`` — WITH RECURSIVE (Spark 4.1) for a
  genuinely order-dependent recurrence: a capped loyalty-balance
  replay where the balance resets to zero whenever an order pushes it
  over the cap. The reset makes the state non-linear in the inputs —
  NOT expressible as any window/prefix aggregate — so iterative
  evaluation is required; the recursion depth is bounded by the max
  orders per customer (24 at every tested sf), not by data volume,
  so each level is one bounded self-join that scales horizontally.

Cross-engine exactness: VARIANT `k` is integer; the replay runs on
floor-tick cents (BIGINT); the lateral query passes raw stored
doubles through untouched. No float aggregate is ever compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load

# ---------------------------------------------------------------- VARIANT

def variant_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props JSON → VARIANT → typed extraction → exact integer rollup."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.parse_json(F.col("props")).alias("v"),
        )
        .select(
            "event_type",
            F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        )
        # floor division on BOTH engines (Spark `div` truncates toward
        # zero, DuckDB `//` floors — they disagree on negative k)
        .groupBy("event_type", F.expr("cast(floor(k / 10.0) as int)").alias("k_decile"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type", "k_decile")
    )


_VARIANT_SQL = """
SELECT event_type,
       CAST(floor((json_extract(props, '$.k')::INTEGER) / 10.0) AS INTEGER) AS k_decile,
       count(*) AS n_events,
       sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS sum_k,
       min(json_extract(props, '$.k')::INTEGER) AS min_k,
       max(json_extract(props, '$.k')::INTEGER) AS max_k
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

# ---------------------------------------------------------------- LATERAL

_LATERAL_SQL = """
SELECT n.n_name AS nation, t.c_custkey, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3
) t
ORDER BY nation, c_acctbal DESC, c_custkey
"""


def lateral_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------- RECURSIVE

# Cap chosen so the sf data redeems ~3x per customer (avg order
# ~$250k, ~10 orders/customer). Cents keep every step integer-exact.
_CAP_CENTS = 60_000_000

_RECURSIVE_SQL = f"""
WITH RECURSIVE seq AS (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
replay(o_custkey, i, balance, redemptions) AS (
  SELECT o_custkey, i,
         CASE WHEN cents >= {_CAP_CENTS} THEN CAST(0 AS BIGINT) ELSE cents END,
         CASE WHEN cents >= {_CAP_CENTS} THEN 1 ELSE 0 END
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.o_custkey, s.i,
         CASE WHEN r.balance + s.cents >= {_CAP_CENTS}
              THEN CAST(0 AS BIGINT) ELSE r.balance + s.cents END,
         r.redemptions + CASE WHEN r.balance + s.cents >= {_CAP_CENTS}
                              THEN 1 ELSE 0 END
  FROM replay r JOIN seq s ON s.o_custkey = r.o_custkey AND s.i = r.i + 1
)
SELECT o_custkey,
       max(i) AS n_orders,
       max_by(balance, i) AS final_balance_cents,
       max_by(redemptions, i) AS n_redemptions
FROM replay
GROUP BY o_custkey
ORDER BY o_custkey
"""


# Chunked Spark formulation: the replay is a per-customer sequential
# fold, so K steps can be folded per recursion level with the
# aggregate() HOF over pre-grouped size-K chunks — depth/K levels
# instead of depth. Each level is one co-partitioned join + a linear
# in-row fold; with local dispatch ~0.35 s/level the wall time drops
# ~K×. The HOF lambda is interpreted (not codegen'd), but it runs
# once per ORDER (~10/customer), not per char — arithmetic-only folds
# at that cardinality are dispatch-bound, not interpreter-bound.
# The DuckDB oracle stays the one-step-per-level recursive CTE above:
# same semantics, independently derived.
# 16 ⇒ TPC-H's ≤24 orders/customer folds in 2 chunks = base + ONE
# recursive level (each level costs a ~0.35 s local dispatch floor);
# deeper sequences (the 100-step ragged test) still recurse correctly.
# 64 covers TPC-H's per-customer order cap (~41; observed max 24 at
# sf0.1) in ONE chunk level — measured 1.82 s (K=16, 2 levels) ->
# 1.11 s (K=64) at sf0.1; the fold is already interpreted, so a
# longer in-row fold is cheaper than another ~0.35 s dispatch level.
# The 100-step boundary test still spans 2 chunks.
_CHUNK = 64

_STEP = (
    "named_struct("
    f"'b', CASE WHEN acc.b + x >= {_CAP_CENTS} THEN CAST(0 AS BIGINT) "
    "ELSE acc.b + x END, "
    f"'rd', acc.rd + CASE WHEN acc.b + x >= {_CAP_CENTS} THEN 1 ELSE 0 END)"
)

_RECURSIVE_SPARK_SQL = f"""
WITH RECURSIVE seq AS (
  SELECT o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS i,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
chunks AS (
  SELECT o_custkey, CAST((i - 1) div {_CHUNK} AS INT) AS chunk,
         transform(array_sort(collect_list(struct(i, cents))), s -> s.cents) AS arr,
         max(i) AS last_i
  FROM seq
  GROUP BY o_custkey, CAST((i - 1) div {_CHUNK} AS INT)
),
replay(o_custkey, chunk, last_i, state) AS (
  SELECT o_custkey, chunk, last_i,
         aggregate(arr, named_struct('b', CAST(0 AS BIGINT), 'rd', 0),
                   (acc, x) -> {_STEP})
  FROM chunks WHERE chunk = 0
  UNION ALL
  SELECT c.o_custkey, c.chunk, c.last_i,
         aggregate(c.arr, r.state, (acc, x) -> {_STEP})
  FROM replay r
  JOIN chunks c ON c.o_custkey = r.o_custkey AND c.chunk = r.chunk + 1
)
SELECT o_custkey,
       max(last_i) AS n_orders,
       max_by(state.b, chunk) AS final_balance_cents,
       max_by(state.rd, chunk) AS n_redemptions
FROM replay
GROUP BY o_custkey
ORDER BY o_custkey
"""


def recursive_balance_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_SPARK_SQL)


def sql_udf_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined scalar function (CREATE FUNCTION … RETURN
    expr): the UDF body is declarative SQL, so Catalyst INLINES it at
    plan time — the banding logic runs inside whole-stage codegen
    with zero Python/JVM serialization boundary, unlike a Python UDF
    doing the same thing. The function then drives a grouped rollup
    (band → count + exact cents sum). This is the modern answer to
    'users need reusable business logic without leaving the JVM fast
    path'. Oracle: the CASE body inlined literally — which is exactly
    what the optimizer does, so parity also pins the inlining
    semantics."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 100000 THEN 'low'
                    WHEN p < 300000 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               count(*) AS n_orders,
               sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS total_cents
        FROM orders
        GROUP BY price_band(o_totalprice)
        ORDER BY band
        """
    )


_SQL_UDF_SQL = """
WITH banded AS (
  SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
              WHEN o_totalprice < 300000 THEN 'mid'
              ELSE 'high' END AS band,
         o_totalprice
  FROM orders
)
SELECT band, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM banded
GROUP BY band
ORDER BY band
"""


def parameterized_top_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (Spark 4 ``spark.sql(query, args=...)``) —
    the injection-safe templating surface an application layer uses
    instead of string-formatting values into SQL. Parameter markers
    (:etype, :k) are bound as LITERALS at parse time, so Catalyst
    sees constants: the event-type predicate pushes into the parquet
    scan and the LIMIT compiles to TakeOrderedAndProject exactly as
    if hand-inlined. The oracle is the hand-inlined query — parity
    pins that binding and inlining agree."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT user_id, count(*) AS n_purchases
        FROM events
        WHERE event_type = :etype
        GROUP BY user_id
        ORDER BY n_purchases DESC, user_id
        LIMIT :k
        """,
        args={"etype": "purchase", "k": 10},
    )


_PARAM_SQL = """
SELECT user_id, count(*) AS n_purchases
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY n_purchases DESC, user_id
LIMIT 10
"""


def identifier_param_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``IDENTIFIER(:name)`` clause: the table NAME itself is
    a bound parameter — the injection-safe form of "run this profile
    against whichever table the caller picks" that multi-tenant tools
    otherwise build with f-strings. The identifier binds at parse
    time, so the plan is indistinguishable from naming the table
    literally (scan pruning included). Oracle = the same profile with
    the table hand-inlined."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               count(*) AS n_orders,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS revenue_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY o_orderstatus
        ORDER BY status
        """,
        args={"tbl": "orders"},
    )


_IDENTIFIER_SQL = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY status
"""


def sql_scripting_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 SQL scripting (BEGIN … END with DECLARE/SET): the
    imperative two-step every reporting app writes — compute a
    dynamic cutoff into a session variable, then use it as a plain
    constant in the report query. The variable read is a literal by
    the time the final SELECT plans, so the predicate still pushes
    down. The cutoff is ``percentile_disc`` (an actual data value,
    never an interpolated float), so the > comparison is
    engine-exact; the oracle inlines the same scalar via a CTE."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        BEGIN
          DECLARE cutoff DOUBLE DEFAULT 0.0;
          SET cutoff = (SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
                        FROM orders);
          SELECT o_orderpriority,
                 count(*) AS n_big_orders,
                 sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_cents
          FROM orders
          WHERE o_totalprice > cutoff
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority;
        END
        """
    )


_SCRIPTING_SQL = """
WITH cutoff AS (
  SELECT quantile_disc(o_totalprice, 0.9) AS c FROM orders
)
SELECT o_orderpriority,
       count(*) AS n_big_orders,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS total_cents
FROM orders, cutoff
WHERE o_totalprice > cutoff.c
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def collation_ci_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: group case-mangled event types
    under ``COLLATE UNICODE_CI`` so 'CLICK' and 'click' are ONE
    group — the engine-level answer to the lower()-everywhere
    convention (the collation participates in hashing/shuffle, not
    just comparison). The mixed-case input is constructed
    deterministically from event_id parity; the emitted key is
    lower()ed because a CI group's representative member is
    engine-chosen. Oracle: DuckDB groups by lower() — provably the
    same partition of rows for ASCII data."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH mangled AS (
          SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE event_type END AS etype_mixed,
                 user_id
          FROM events
        )
        SELECT lower(etype_mixed COLLATE UNICODE_CI) AS event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM mangled
        GROUP BY etype_mixed COLLATE UNICODE_CI
        ORDER BY event_type
        """
    )


_COLLATION_SQL = """
WITH mangled AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
              ELSE event_type END AS etype_mixed,
         user_id
  FROM events
)
SELECT lower(etype_mixed) AS event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM mangled
GROUP BY lower(etype_mixed)
ORDER BY event_type
"""


def transpose_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0): the wide-report face —
    a 5-row (region, revenue) aggregate flipped so regions become
    COLUMNS (the layout a dashboard/spreadsheet consumer asks for).
    Transpose collects the index column to the driver to derive the
    output schema — safe here by construction (bounded, 5 regions)
    and exactly the sanctioned use: tiny presentation pivots of an
    already-aggregated result, never raw facts.

    Revenue is integer cents so the transposed values share one
    BIGINT type (transpose requires a common value type). Oracle =
    conditional aggregation onto the same fixed region column names."""
    from .base import load

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents"))
        .orderBy("r_name")
    )
    return rev.transpose()


_TRANSPOSE_SQL = """
SELECT 'revenue_cents' AS key,
       CAST(sum(cents) FILTER (r_name = 'AFRICA') AS BIGINT)      AS "AFRICA",
       CAST(sum(cents) FILTER (r_name = 'AMERICA') AS BIGINT)     AS "AMERICA",
       CAST(sum(cents) FILTER (r_name = 'ASIA') AS BIGINT)        AS "ASIA",
       CAST(sum(cents) FILTER (r_name = 'EUROPE') AS BIGINT)      AS "EUROPE",
       CAST(sum(cents) FILTER (r_name = 'MIDDLE EAST') AS BIGINT) AS "MIDDLE EAST"
FROM (
  SELECT r_name, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
"""

def pipe_syntax_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operators, SPARK-49555): the
    linear FROM → WHERE → AGGREGATE → WHERE → ORDER BY chain, where
    the post-aggregate WHERE plays HAVING. Semantically identical to
    the nested ANSI form the oracle runs — the face under test is the
    parser/analyzer path, not new semantics. Money sums are floor-tick
    cents (exact int64 both engines)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n_orders,
                     sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS total_cents
           GROUP BY o_orderpriority
        |> WHERE n_orders >= 10
        |> ORDER BY o_orderpriority
        """
    )


_PIPE_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING count(*) >= 10
ORDER BY o_orderpriority
"""


def group_by_all_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 4, adopted from
    DuckDB): group on every non-aggregate select item without
    restating the list — the face that kills the group-by/select
    drift bug in wide rollups. The oracle is the IDENTICAL SQL text
    run by DuckDB (its home dialect), proving the Spark parser binds
    the same columns. Money is floor-tick cents (BIGINT)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


# One text, two engines — the query IS the oracle.
_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


APPROX_TOPK_CAPACITY = 20


def approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` sketch aggregation (Spark 4.1) over the event
    stream — the bounded-memory, mergeable frequent-items path that
    replaces an exact groupBy at 100 TB (each executor keeps a
    fixed-size sketch; the merge is one reduce). Demonstrated in the
    regime where the sketch is PROVABLY exact — tracked capacity
    exceeds the distinct-value count, so every counter is exact and
    the DuckDB exact-count oracle hash-matches. Past capacity the
    counts become estimates (the production trade-off; monitored by
    comparing against a sampled exact count, the
    ``dedup_sketch_recall_report`` discipline)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        f"""
        SELECT t.item AS event_type, t.count AS n_events
        FROM (
          SELECT explode(approx_top_k(event_type, {APPROX_TOPK_CAPACITY})) AS t
          FROM events
        )
        ORDER BY n_events DESC, event_type
        """
    )


_APPROX_TOPK_SQL = """
SELECT event_type, count(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY n_events DESC, event_type
"""


# ------------------------------------------------------- SQL TABLE FUNCTION

def sql_tvf_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 SQL TABLE function (CREATE FUNCTION … RETURNS TABLE
    … RETURN SELECT) invoked through a correlated LATERAL join — the
    reusable-view-with-parameters face that `sql_udf_price_bands`
    (scalar) and `lateral_top_customers_per_nation` (inline subquery)
    each cover half of. Catalyst inlines the function body per outer
    row and decorrelates the whole thing into ONE broadcast join plus
    a per-key group limit — no per-nation re-scan of customer, which
    is what makes the face survive a 100 TB customer table (probed
    per key, the naive interpretation would be N scans).

    TRAP (probed, Spark 4.1): LIMIT inside a correlated TVF body is
    NOT per-invocation — decorrelation hoists it into one GLOBAL
    limit (3 rows total, not 3 per nation), and a parameterized limit
    is rejected outright (INVALID_LIMIT_LIKE_EXPRESSION). The sound
    per-key top-k body is a window rank filtered OUTSIDE the call —
    decorrelation turns the body's ORDER-BY-all window into a
    partition-by-key rank, which the probe confirms row-for-row.
    Balances ride floor-tick cents so ordering and hashing never
    touch doubles.
    """
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION nation_ranked_customers(nk BIGINT)
        RETURNS TABLE(c_name STRING, acct_cents BIGINT, rn BIGINT)
        RETURN SELECT c_name,
                      CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acct_cents,
                      CAST(row_number() OVER (
                          ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) DESC,
                                   c_name) AS BIGINT)
               FROM customer
               WHERE c_nationkey = nk
        """
    )
    return spark.sql(
        """
        SELECT n_name, t.c_name, t.acct_cents
        FROM nation, LATERAL nation_ranked_customers(n_nationkey) t
        WHERE t.rn <= 3
        ORDER BY n_name, acct_cents DESC, c_name
        """
    )


_SQL_TVF_SQL = """
WITH ranked AS (
  SELECT c_nationkey, c_name,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acct_cents,
         row_number() OVER (
             PARTITION BY c_nationkey
             ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) DESC, c_name
         ) AS rn
  FROM customer
)
SELECT n.n_name, r.c_name, r.acct_cents
FROM nation n JOIN ranked r ON r.c_nationkey = n.n_nationkey
WHERE r.rn <= 3
ORDER BY n_name, acct_cents DESC, c_name
"""


# --------------------------------------------------- LATERAL COLUMN ALIASES

def lateral_alias_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 lateral column aliases: each SELECT-list expression
    references the alias defined immediately before it (n_words →
    est_tokens → n_seqs → pad_waste), so a four-step derivation reads
    as four lines instead of a pyramid of nested subqueries — the
    parser/binder face DuckDB and Spark both adopted. The chain is
    all-integer (ceil-div via `(x + k - 1) div k`), so the packing
    plan it derives (sequences needed at a 512-token budget and the
    padding wasted without packing) hash-matches exactly.
    """
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id,
               CAST(size(split(text, ' ')) AS BIGINT) AS n_words,
               (n_words * 4) div 3 AS est_tokens,
               (est_tokens + 511) div 512 AS n_seqs,
               n_seqs * 512 - est_tokens AS pad_waste
        FROM documents
        ORDER BY doc_id
        """
    )


_LATERAL_ALIAS_SQL = """
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_words,
       (n_words * 4) // 3 AS est_tokens,
       (est_tokens + 511) // 512 AS n_seqs,
       n_seqs * 512 - est_tokens AS pad_waste
FROM documents
ORDER BY doc_id
"""


# ------------------------------------------------- MERGEABLE HLL SKETCHES

def hll_sketch_partition_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL as a MERGEABLE column (`hll_sketch_agg` →
    `hll_union_agg`) — the pattern a 100 TB pipeline actually runs:
    materialize one tiny sketch per partition/source/day, answer
    corpus-wide distinct questions by merging sketches, never by
    rescanning the corpus. `approx_distinct_stats` covers the scalar
    estimate face; this covers the sketch-as-data face (the union leg
    consumes only the 25-sketch relation).

    Oracle pattern (tpch_extra.approx_distinct_stats): emitted
    columns are the EXACT distinct counts plus a flag that the
    estimate landed within 5% (lgConfigK=12 → rsd ≈ 1.6%, flag at
    ~3σ); the oracle emits the same exacts with literal TRUE.
    `test_hll_union_tracks_direct_sketch` pins that merging
    per-source sketches tracks the directly-built global sketch
    within the same band (NOT bit-identical — datasketches promotes
    LIST→SET→HLL along different paths for the two builds; measured
    501 vs 502 at sf0.001).
    """
    d = load(spark, sf_dir, "documents")
    ps = d.groupBy("source").agg(
        F.expr("hll_sketch_agg(text, 12)").alias("sk"),
        F.countDistinct("text").alias("exact_docs"),
    )
    per_source = ps.select(
        F.col("source").alias("scope"),
        "exact_docs",
        (
            F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("exact_docs"))
            <= 0.05 * F.col("exact_docs")
        ).alias("approx_ok"),
    )
    merged = ps.agg(F.expr("hll_union_agg(sk, false)").alias("sk")).select(
        F.expr("hll_sketch_estimate(sk)").alias("est_all")
    )
    global_exact = d.agg(F.countDistinct("text").alias("exact_docs"))
    all_row = global_exact.crossJoin(merged).select(
        F.lit("ALL").alias("scope"),
        "exact_docs",
        (F.abs(F.col("est_all") - F.col("exact_docs")) <= 0.05 * F.col("exact_docs")).alias(
            "approx_ok"
        ),
    )
    return per_source.unionByName(all_row).orderBy("scope")


_HLL_SQL = """
SELECT source AS scope, count(DISTINCT text)::BIGINT AS exact_docs, TRUE AS approx_ok
FROM documents GROUP BY source
UNION ALL
SELECT 'ALL', count(DISTINCT text)::BIGINT, TRUE FROM documents
ORDER BY scope
"""


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's mergeable bitmap aggregates
    (`bitmap_bucket_number` / `bitmap_bit_position` /
    `bitmap_construct_agg`) — the exact middle ground between a raw
    countDistinct reshuffle and the HLL sketch face: per (event_type,
    bucket) a fixed 4 KB bitmap, buckets partition the id space, so
    summing per-bucket bitmap_count()s IS the exact distinct. A
    100 TB pipeline materializes the per-bucket bitmaps once per
    partition/day and answers distinct questions by OR-merging
    (`bitmap_or_agg`) — mergeable like HLL but with zero error while
    the key space stays bounded.

    Oracle pattern (approx_distinct_stats): the emitted distinct
    column is countDistinct and the `bitmap_matches` flag asserts the
    bitmap path reproduced it exactly; the oracle emits the same
    exacts with literal TRUE — any bucket/bit-position bug breaks the
    hash while the output stays deterministic."""
    e = load(spark, sf_dir, "events")
    per_bucket = e.select(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    ).groupBy("event_type", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    bitmap_side = per_bucket.groupBy("event_type").agg(
        F.expr("sum(bitmap_count(bm))").cast("bigint").alias("bitmap_users")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_users")
    )
    return (
        exact.join(bitmap_side, "event_type")
        .select(
            "event_type",
            "n_distinct_users",
            (F.col("bitmap_users") == F.col("n_distinct_users")).alias(
                "bitmap_matches"
            ),
        )
        .orderBy("event_type")
    )


_BITMAP_SQL = """
SELECT event_type,
       count(DISTINCT user_id)::BIGINT AS n_distinct_users,
       TRUE AS bitmap_matches
FROM events
GROUP BY event_type
ORDER BY event_type
"""


KMINS_K = 16  # independent min-hash replicas; rsd ~ 1/sqrt(K)
KMINS_M = 4294967296  # 32-bit hash range of llm.hashing.h32


def kmins_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-mins (bottom-1 × K replicas) distinct-count sketch per event
    type, audited against the exact count — the third leg of the
    cardinality-sketch family: [[hll_sketch_partition_union]] is the
    mergeable stochastic-averaging face, [[bitmap_distinct_users]]
    the exact bitmap face, and K-mins is the estimator you get for
    FREE when a MinHash signature already exists
    ([[dedup_minhash_lsh]] keeps per-doc minima of the same md5
    permutation family): E[min_i] = M/(D+1) over a 32-bit hash space,
    so D̂ = K·M / Σ min_i − 1. Unlike HLL the whole state is K
    integers and the estimate here is DETERMINISTIC cross-engine
    (md5-derived permutations — the [[minhash_estimate_calibration]]
    doctrine), so the oracle matches it exactly, error column and
    all.

    Exactness: per-replica minima are exact integer aggregates;
    the estimate is one truncating div; err_pm is a truncating div
    against the exact count computed in the same pass.

    Scale: one distinct (type, user) rollup, then K min-aggregates —
    all map-side combinable; state per group is K·8 bytes at any
    corpus size."""
    from ..llm.hashing import h32

    ev = load(spark, sf_dir, "events")
    pairs = ev.select("event_type", "user_id").distinct()
    mins = [
        F.min(
            h32(F.concat(F.lit(f"kmv{i}:"), F.col("user_id").cast("string")))
        ).alias(f"m{i}")
        for i in range(KMINS_K)
    ]
    per_type = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_users"), *mins
    )
    summins = " + ".join(f"m{i}" for i in range(KMINS_K))
    est = (
        f"CAST((CAST({KMINS_K} AS DECIMAL(38,0)) * {KMINS_M})"
        f" div ({summins}) - 1 AS BIGINT)"
    )
    return (
        per_type.select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            F.expr(
                f"CASE WHEN ({summins}) = 0 THEN NULL ELSE {est} END"
            ).alias("kmins_est"),
            F.expr(
                f"CASE WHEN ({summins}) = 0 OR exact_users = 0 THEN NULL ELSE"
                f" (1000 * ({est} - exact_users)) div exact_users END"
            )
            .cast("bigint")
            .alias("err_pm"),
        )
        .orderBy("event_type")
    )


def _kmins_oracle() -> str:
    from ..llm.hashing import h32_sql

    mins = ", ".join(
        f"min({h32_sql(f''''kmv{i}:' || user_id::VARCHAR''')})::BIGINT AS m{i}"
        for i in range(KMINS_K)
    )
    summins = " + ".join(f"m{i}" for i in range(KMINS_K))
    est = f"CAST(({KMINS_K}::HUGEINT * {KMINS_M}) // ({summins}) - 1 AS BIGINT)"
    return f"""
WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
per_type AS (
  SELECT event_type, count(*)::BIGINT AS exact_users, {mins}
  FROM pairs GROUP BY 1
)
SELECT event_type, exact_users,
       CASE WHEN ({summins}) = 0 THEN NULL ELSE {est} END AS kmins_est,
       CAST(CASE WHEN ({summins}) = 0 OR exact_users = 0 THEN NULL ELSE
         (1000 * ({est} - exact_users)) // exact_users END AS BIGINT) AS err_pm
FROM per_type
ORDER BY event_type
"""


QUERIES = (
    (variant_event_props, _VARIANT_SQL),
    (pipe_syntax_order_stats, _PIPE_SQL),
    (lateral_top_customers_per_nation, _LATERAL_SQL),
    (recursive_balance_replay, _RECURSIVE_SQL),
    (sql_udf_price_bands, _SQL_UDF_SQL),
    (parameterized_top_purchasers, _PARAM_SQL),
    (identifier_param_table_profile, _IDENTIFIER_SQL),
    (sql_scripting_threshold_report, _SCRIPTING_SQL),
    (collation_ci_event_rollup, _COLLATION_SQL),
    (transpose_region_revenue, _TRANSPOSE_SQL),
    (group_by_all_order_stats, _GROUP_BY_ALL_SQL),
    (approx_topk_event_types, _APPROX_TOPK_SQL),
    (sql_tvf_top_customers_per_nation, _SQL_TVF_SQL),
    (lateral_alias_packing_plan, _LATERAL_ALIAS_SQL),
    (hll_sketch_partition_union, _HLL_SQL),
    (bitmap_distinct_users, _BITMAP_SQL),
    (kmins_distinct_audit, _kmins_oracle()),
)
