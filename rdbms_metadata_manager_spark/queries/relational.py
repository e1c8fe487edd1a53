"""Relational analytics surface over the TPC-H-ish star schema.

Implements one query per SURVEY.md §2.2 category (joins, aggregation,
grouping sets, windows, sorts/limits, set ops, string/date/math/JSON
scalar functions). Every query here is paired with its DuckDB oracle in
``QUERIES``, with IDENTICAL column names and float-rounding so the driver's
order-insensitive value-hash matches.

Scale notes (100 TB design):
- Dims that are tiny at any scale factor (region: 5 rows, nation: 25)
  are explicitly ``broadcast()``; customer/supplier/part are left to
  AQE, which converts to broadcast when the runtime size allows and
  otherwise picks sort-merge on the shuffled key.
- Aggregates are expressed so map-side partial aggregation applies
  (plain ``groupBy().agg()`` over codegen'd expressions, no UDFs).
- Float aggregates are rounded in BOTH engines: double addition is
  non-associative, so Spark's parallel partials and DuckDB's serial
  sum differ in low-order bits; rounding defines the comparison
  contract rather than papering over a real difference.
- Filters are plain column predicates → parquet row-group pushdown
  (verified via .explain in tests/bench).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


def _money(col) -> F.Column:
    """Exact-decimal term for money aggregates.

    Summing doubles is order-dependent, and Spark's round() rounds the
    shortest-decimal repr while DuckDB rounds the binary value — on
    this data (prices/discounts with exact 2-decimal values) the two
    disagree at half-boundaries often enough to matter. Casting the
    term to DECIMAL makes the sum exact and identical in both engines;
    the final cast back to double is then bit-identical too.
    """
    return F.col(col).cast("decimal(18,6)") if isinstance(col, str) else col.cast("decimal(18,6)")


# --- Aggregation -----------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.
    Whole-stage-codegen + map-side combine; the groupBy key has 6
    distinct values so the shuffle is trivial at any scale."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = _money("l_extendedprice") * (1 - _money("l_discount"))
    charge = disc_price * (1 + _money("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(_money("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))
                      * (1 + CAST(l_tax AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def agg_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate incl. count-distinct (expands to a two-phase
    aggregate; the distinct key is co-partitioned with the group key
    so only one shuffle)."""
    c, n = load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.stddev_samp("c_acctbal"), 4).alias("std_bal"),
        )
        .orderBy("n_name")
    )


_AGG_NATION_SQL = """
SELECT n_name,
       count(*)                              AS n_customers,
       count(DISTINCT c_mktsegment)          AS n_segments,
       round(avg(c_acctbal), 4)              AS avg_bal,
       round(min(c_acctbal), 2)              AS min_bal,
       round(max(c_acctbal), 2)              AS max_bal,
       round(stddev_samp(c_acctbal), 4)      AS std_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
        .orderBy(F.col("total_spent").desc(), "o_custkey")
    )


_HAVING_SQL = """
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
ORDER BY total_spent DESC, o_custkey
"""


# --- Joins -----------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k. customer⋈orders is
    a shuffle join on custkey (AQE may broadcast customer at small
    SF); orders⋈lineitem shuffles on orderkey — the natural
    co-partitioning for the downstream groupBy(l_orderkey), so the
    aggregation reuses the join exchange instead of adding one."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-03-15"))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(_money("l_extendedprice") * (1 - _money("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with the c_nationkey = s_nationkey
    locality predicate. region/nation broadcast (5/25 rows at ANY
    scale factor); the fact-side joins shuffle on their keys."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_money("l_extendedprice") * (1 - _money("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_Q5_SQL = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact table against three broadcast dims."""
    r, n, c = load(spark, sf_dir, "region"), load(spark, sf_dir, "nation"), load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("r_name")
    )


_REVENUE_REGION_SQL = """
SELECT r_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def semi_join_high_discount_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ EXISTS (TPC-H Q4 shape adapted to this
    schema: orders with at least one high-discount line)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SEMI_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ NOT EXISTS."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def outer_join_nation_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving empty nations (null-producing side
    aggregated with coalesce)."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    co = c.join(o, c["c_custkey"] == o["o_custkey"], "inner")
    return (
        n.join(co, n["n_nationkey"] == co["c_nationkey"], "left")
        .groupBy("n_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("n_name")
    )


_OUTER_SQL = """
SELECT n_name, count(o_orderkey) AS n_orders
FROM nation
LEFT JOIN (SELECT c_nationkey, o_orderkey
           FROM customer JOIN orders ON c_custkey = o_custkey) co
  ON n_nationkey = co.c_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate subquery feeding a semi-filter,
    then join back to headers. The groupBy(l_orderkey) output is tiny
    → AQE broadcasts it into the orders join."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_orderkey", F.round("qty", 2).alias("total_qty"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"), "total_qty")
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       round(o_totalprice, 2) AS total_price,
       round(qty, 2) AS total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 60) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


# --- Windows ---------------------------------------------------------------

def window_topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() top-N per group — one shuffle on the partition
    key; rank tie-broken by orderkey for determinism."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"), "rn")
        .orderBy("o_custkey", "rn")
    )


_WINDOW_TOPN_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per supplier (ROWS UNBOUNDED PRECEDING). Both
    engines accumulate in the same total order (shipdate, orderkey,
    linenumber) so the float running sum is reproducible."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias("running_revenue"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


_WINDOW_RUNNING_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(sum(l_extendedprice) OVER (
           PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
FROM lineitem
WHERE l_suppkey <= 5
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — days between consecutive orders per customer."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.col("prev_date")).alias("gap_days"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_WINDOW_GAPS_SQL = """
SELECT o_custkey, o_orderkey,
       date_diff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
WHERE o_custkey <= 50
ORDER BY o_custkey, o_orderkey
"""


# --- Grouping sets / pivot ---------------------------------------------------

def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


_CUBE_SQL = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def pivot_returnflag_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let Spark scan for
    pivot values at scale — that's an extra job over the fact table)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Sorts / limits / set ops ------------------------------------------------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Spark's TakeOrderedAndProject (no full
    sort; per-partition top-k then merge on the driver)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
        .limit(10)
    )


_TOPK_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def set_intersect_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return a.intersect(b).orderBy("c_nationkey")


_INTERSECT_SQL = """
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
ORDER BY c_nationkey
"""


def set_except_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return a.exceptAll(b).groupBy("c_nationkey").agg(F.count("*").alias("n")).orderBy("c_nationkey")


_EXCEPT_SQL = """
SELECT c_nationkey, count(*) AS n
FROM (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT ALL
      SELECT c_nationkey FROM customer WHERE c_acctbal > 5000) t
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def union_high_value_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two differently-sourced key sets."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    a = c.filter(F.col("c_acctbal") > 9000).select(F.col("c_nationkey").alias("nationkey"))
    b = s.filter(F.col("s_acctbal") > 9000).select(F.col("s_nationkey").alias("nationkey"))
    return a.union(b).distinct().orderBy("nationkey")


_UNION_SQL = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
ORDER BY nationkey
"""


def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select("c_mktsegment").distinct().orderBy("c_mktsegment")


_DISTINCT_SQL = "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"


# --- Scalar functions --------------------------------------------------------

def string_functions_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 4).alias("name_pre"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.lower("p_type").contains("economy").cast("boolean").alias("is_economy"),
    ).orderBy("p_partkey")


_STRING_SQL = r"""
SELECT p_partkey,
       upper(p_name)                         AS name_upper,
       length(p_name)                        AS name_len,
       substr(p_name, 1, 4)                  AS name_pre,
       regexp_extract(p_name, '^(\w+)', 1)   AS first_word,
       concat_ws('-', p_brand, p_type)       AS brand_type,
       replace(p_name, ' ', '_')             AS name_snake,
       contains(lower(p_type), 'economy')    AS is_economy
FROM part
WHERE p_partkey <= 100
ORDER BY p_partkey
"""


def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("order_year", "order_month")
    )


_DATE_SQL = """
SELECT year(o_orderdate) AS order_year, month(o_orderdate) AS order_month,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY 1, 2
ORDER BY order_year, order_month
"""


def math_functions_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    # Row-level double arithmetic (mul/sub/abs/sqrt) is IEEE-754
    # deterministic — bit-identical across engines — so no rounding is
    # needed or wanted. ln() is libm-dependent (may differ in the last
    # ulp between JVM and C), hence the round(…, 4).
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge.alias("charge"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 4).alias("price_ln"),
        F.pmod(F.col("l_partkey"), F.lit(7)).alias("part_mod"),
    ).orderBy("l_orderkey", "l_linenumber")


_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
       abs(l_discount - 0.05)                AS disc_dev,
       CAST(ceil(l_quantity) AS BIGINT)      AS qty_ceil,
       CAST(floor(l_quantity) AS BIGINT)     AS qty_floor,
       sqrt(l_extendedprice)                 AS price_sqrt,
       round(ln(l_extendedprice), 4)         AS price_ln,
       l_partkey % 7                         AS part_mod
FROM lineitem
WHERE l_orderkey <= 100
ORDER BY l_orderkey, l_linenumber
"""


def case_when_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        o.groupBy(band.alias("price_band"))
        .agg(F.count("*").alias("n_orders"))
        .orderBy("price_band")
    )


_CASE_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS price_band,
       count(*) AS n_orders
FROM orders
GROUP BY 1
ORDER BY price_band
"""


def ordered_array_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: each customer's order keys as an
    array in (o_orderdate, o_orderkey) order, plus first/last. Spark's
    ``collect_list`` has no intra-group order guarantee, so the
    deterministic idiom is collect structs → ``sort_array`` (struct
    comparison is field-lexicographic = the ORDER BY) → project the
    key out — equivalent to DuckDB's ``list(x ORDER BY ...)``.
    The array is emitted as a ``,``-joined string digest (not a raw
    array column) so external result canonicalizers that hash scalar
    cells can compare it; ordering information is fully preserved.
    Scale: one hash aggregate; per-group arrays are bounded by orders
    per customer (~10), so the agg buffer stays small."""
    orders = load(spark, sf_dir, "orders")
    keys = F.expr(
        "transform(sort_array(collect_list(struct(o_orderdate, o_orderkey))), "
        "s -> s.o_orderkey)"
    )
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), keys.alias("_keys"))
        .select(
            "o_custkey",
            "n_orders",
            F.array_join(F.expr("transform(_keys, k -> cast(k as string))"), ",").alias(
                "order_keys"
            ),
            F.element_at("_keys", 1).alias("first_key"),
            F.element_at("_keys", -1).alias("last_key"),
        )
        .orderBy("o_custkey")
    )


_ORDERED_AGG_SQL = """
SELECT o_custkey,
       count(*) AS n_orders,
       array_to_string(list(CAST(o_orderkey AS VARCHAR) ORDER BY o_orderdate, o_orderkey), ',')
           AS order_keys,
       first(o_orderkey ORDER BY o_orderdate, o_orderkey) AS first_key,
       last(o_orderkey ORDER BY o_orderdate, o_orderkey) AS last_key
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


def json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.round(F.max(k), 2).alias("max_k"),
        )
        .orderBy("event_type")
    )


_JSON_SQL = """
SELECT event_type, count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       round(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = (
    (q1_pricing_summary, _Q1_SQL),
    (agg_nation_stats, _AGG_NATION_SQL),
    (having_big_customers, _HAVING_SQL),
    (q3_shipping_priority, _Q3_SQL),
    (q5_local_supplier_volume, _Q5_SQL),
    (revenue_by_region, _REVENUE_REGION_SQL),
    (semi_join_high_discount_orders, _SEMI_SQL),
    (anti_join_customers_without_orders, _ANTI_SQL),
    (outer_join_nation_order_counts, _OUTER_SQL),
    (q18_large_volume_customers, _Q18_SQL),
    (window_topn_orders_per_customer, _WINDOW_TOPN_SQL),
    (window_running_revenue, _WINDOW_RUNNING_SQL),
    (window_order_gaps, _WINDOW_GAPS_SQL),
    (rollup_returnflag_status, _ROLLUP_SQL),
    (cube_priority_status, _CUBE_SQL),
    (pivot_returnflag_by_status, _PIVOT_SQL),
    (topk_orders, _TOPK_SQL),
    (set_intersect_segments, _INTERSECT_SQL),
    (set_except_segments, _EXCEPT_SQL),
    (union_high_value_parties, _UNION_SQL),
    (distinct_segments, _DISTINCT_SQL),
    (string_functions_parts, _STRING_SQL),
    (date_functions_orders, _DATE_SQL),
    (math_functions_lineitem, _MATH_SQL),
    (case_when_price_bands, _CASE_SQL),
    (json_event_props, _JSON_SQL),
    (ordered_array_agg_orders, _ORDERED_AGG_SQL),
)
