"""The remaining classic TPC-H query shapes (q2, q4, q7-q13, q15,
q20-q22) over the reduced star schema.

The driver testdata has no ``partsupp`` table and drops several
columns (commit/receipt dates, ship mode, phones, comments), so the
queries that depend on them are *shape adaptations*: each keeps the
defining structure of the original — the correlated min (q2), the
EXISTS semi-join (q4), the two-sided conditional aggregate (q12), the
scalar-subquery HAVING (q11), the double aggregation (q13), the
aggregate-equals-max selection (q15), the nested-IN (q20), the
multi-supplier blame rule (q21), the anti-join over an average
threshold (q22) — re-targeted at columns that exist. Adapted
predicates are noted per query.

Float contract (see relational.py / README): money sums in
DECIMAL(18,6); threshold-vs-average comparisons restated as exact
decimal inequalities; day arithmetic via integer datediff. Every
query has a DuckDB oracle with identical column names.

Scale notes: every join below keys on the star-schema foreign keys,
so Catalyst shuffles on those keys and AQE broadcast-converts the
dimension sides (region/nation always; supplier/part/customer at low
SF). The scalar "total"/"max" subqueries (q11, q15, q22) reduce to a
1-row broadcast, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load
from .relational import _money, _ts


def _disc_price() -> F.Column:
    return _money("l_extendedprice") * (1 - _money("l_discount"))


_DISC_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))"
)


# --- q2: correlated-min supplier selection ---------------------------------

def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted): no partsupp, so "who can supply part
    X" = distinct (partkey, suppkey) pairs observed in lineitem, and
    the correlated min is over s_acctbal instead of ps_supplycost.
    Region-filtered suppliers, per-part min, equality join back —
    the decorrelated plan Catalyst produces for the correlated form."""
    pairs = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = (
        load(spark, sf_dir, "supplier")
        .join(load(spark, sf_dir, "nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    cand = (
        pairs.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    min_bal = cand.groupBy(F.col("p_partkey").alias("mp_partkey")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            min_bal,
            (F.col("p_partkey") == F.col("mp_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
    )


_Q2_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_type, s_suppkey, s_name, s_acctbal, n_name
  FROM pairs
  JOIN part ON l_partkey = p_partkey
  JOIN supp ON l_suppkey = s_suppkey
  WHERE p_size = 10
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type
FROM cand
WHERE s_acctbal = (SELECT min(s_acctbal) FROM cand c2 WHERE c2.p_partkey = cand.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
"""


# --- q4: EXISTS semi-join priority count -----------------------------------

def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted): no commit/receipt dates, so "late"
    means a lineitem shipped >60 days after the order date. Semi-join
    keeps the EXISTS semantics (each order counted once)."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.datediff("l_shipdate", "o_orderdate") > 60),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND date_diff('day', o_orderdate, l_shipdate) > 60
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q6: forecasting revenue change ----------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — every predicate reaches
    the parquet row-group stats, and the single global sum is a
    two-level partial/final aggregate with no groupBy shuffle."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(_money("l_extendedprice") * _money("l_discount")), 2)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.04
  AND l_quantity < 24
"""


# --- q7: volume shipping between two nations -------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue shipped between two nations, both
    directions, by year. Two independent nation lookups (supplier
    side and customer side) — both broadcast."""
    li = load(spark, sf_dir, "lineitem")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    df = (
        li.join(load(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        df.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year, {_DISC_SQL} AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- q8: national market share ---------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_2's share of ECONOMY-part revenue sold into
    ASIA-region customers, per order year. The share divides two
    exact decimal sums cast to double — bit-identical across
    engines (same rule as q14)."""
    li = load(spark, sf_dir, "lineitem")
    supp_nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_regionkey")
    )
    df = (
        li.join(
            load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(load(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("cn_regionkey") == F.col("r_regionkey"),
        )
    )
    vol = _disc_price()
    nation_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        df.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(nation_vol).cast("double") / F.sum(vol).cast("double")).alias("mkt_share"),
            F.round(F.sum(vol), 2).cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


_Q8_SQL = f"""
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CASE WHEN n1.n_name = 'NATION_2' THEN {_DISC_SQL}
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(sum({_DISC_SQL}) AS DOUBLE) AS mkt_share,
       CAST(round(sum({_DISC_SQL}), 2) AS DOUBLE) AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


# --- q9: product-type profit by nation and year ----------------------------

def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted): no ps_supplycost, so profit is the
    discounted revenue of 'red'-named parts, grouped by supplier
    nation and order year."""
    df = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(load(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        df.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_Q9_SQL = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(sum({_DISC_SQL}), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


# --- q10: returned-item reporting ------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top 20 customers by revenue lost to returns in a
    six-month window. LIMIT ties broken on c_custkey so the row set
    is deterministic at every SF."""
    df = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .join(
            load(spark, sf_dir, "orders").filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1996-07-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(load(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        df.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(round(sum({_DISC_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- q11: value concentration (scalar subquery in HAVING) ------------------

def q11_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted): no partsupp, so "stock value" is
    each part's total discounted lineitem revenue, kept when it
    exceeds 1.1x the mean part value (scale-free, unlike the
    original's fixed fraction, so it stays selective at every SF).
    The fraction test is restated as the exact integer-decimal
    inequality value*n_parts*10 > total*11 (no float multiply). The
    global total is a 1-row broadcast join."""
    per_part = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.sum(_disc_price()).alias("val"))
    )
    total = per_part.agg(F.sum("val").alias("total"), F.count("*").alias("n_parts"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val") * F.col("n_parts") * 10 > F.col("total") * 11)
        .select(
            "part_key", F.round(F.col("val"), 2).cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "part_key")
    )


_Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey AS part_key, sum({_DISC_SQL}) AS val
  FROM lineitem GROUP BY 1
)
SELECT part_key, CAST(round(val, 2) AS DOUBLE) AS part_value
FROM per_part, (SELECT sum(val) AS total, count(*) AS n_parts FROM per_part) s
WHERE val * n_parts * 10 > total * 11
ORDER BY part_value DESC, part_key
"""


# --- q12: shipping-delay buckets (two-sided conditional agg) ---------------

def q12_shipping_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted): no ship mode or receipt date, so
    lines are bucketed by ship delay (days from order to ship date)
    and counted into high- vs low-priority columns."""
    df = load(spark, sf_dir, "lineitem").join(
        load(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    delay = F.datediff("l_shipdate", "o_orderdate")
    bucket = (
        F.when(delay > 90, "90+").when(delay > 30, "31-90").otherwise("0-30")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        df.groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


_Q12_SQL = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN '90+'
            WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN '31-90'
            ELSE '0-30' END AS delay_bucket,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY delay_bucket
"""


# --- q13: customer order-count distribution (double aggregation) -----------

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: histogram of orders-per-customer, customers with
    zero orders included via the left outer join. The comment filter
    becomes a priority filter (column exists)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q15: top supplier (aggregate = max selection) -------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) whose quarterly revenue equals the
    maximum. Equality is evaluated on the unrounded decimal sums
    (exact in both engines); the output value is rounded."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_disc_price()).alias("total_rev"))
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(
            load(spark, sf_dir, "supplier"),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, sum({_DISC_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(round(total_rev, 2) AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


# --- q20: nested-IN supplier promotion -------------------------------------

def q20_heavy_red_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted): no partsupp/availqty, so the inner
    query selects suppliers who shipped a large total quantity of
    'red%' parts in 1996; the outer IN becomes a semi-join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    red = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        li.join(red, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_money("l_quantity")).alias("red_qty"))
        .filter(F.col("red_qty") > 400)
    )
    return (
        load(spark, sf_dir, "supplier")
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 400
)
ORDER BY s_suppkey
"""


# --- q21: suppliers who kept orders waiting --------------------------------

def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted): no receipt/commit dates, so the
    blame rule is: in a finished ('F') multi-supplier order that took
    >90 days from order to last ship, blame the supplier(s) whose
    line carries that last ship date (EXISTS another supplier /
    NOT EXISTS a later shipper — expressed via per-order window max
    and distinct-supplier count).

    Plan: the per-order max/distinct-count ride ONE window over the
    single lineitem exchange (the old groupBy-then-self-join shape
    scanned and shuffled lineitem twice — guide §2.4: an aggregation
    and a window keyed the same way should share the exchange); the
    lineitem-only blame predicates filter BEFORE the orders join so
    only last-ship lines of multi-supplier orders reach it."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    lw = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .withColumn("max_ship", F.max("l_shipdate").over(w))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
    )
    df = (
        lw.filter(
            (F.col("n_supp") >= 2) & (F.col("l_shipdate") == F.col("max_ship"))
        )
        .join(
            load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.datediff("max_ship", "o_orderdate") > 90)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        df.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(
            load(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
    )


_Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey AS po_orderkey, max(l_shipdate) AS max_ship,
         count(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY 1
),
blamed AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem
  JOIN per_order ON l_orderkey = po_orderkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND n_supp >= 2
    AND l_shipdate = max_ship
    AND date_diff('day', o_orderdate, max_ship) > 90
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM blamed JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
"""


# --- q22: dormant high-balance customers -----------------------------------

def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted): no phone column, so the "country
    code" is c_nationkey % 5 restricted to {0, 1, 2}, and "dormant"
    means no order since 2000-01-01 (every customer in this data has
    at least one order ever, so the original's no-orders-at-all test
    is vacuous). The balance-above-average test is restated exactly:
    avg() of doubles differs across engines in the last ulp, so
    compare bal*count > sum over exact decimals (same rule as q17).
    The NOT EXISTS is an anti-join on the date-filtered orders."""
    cust = load(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.col("c_nationkey") % 5
    ).filter(F.col("cntrycode").isin(0, 1, 2))
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    avg_parts = pos.agg(
        F.sum(_money("c_acctbal")).alias("sum_bal"), F.count("*").alias("cnt_bal")
    )
    dormant = (
        cust.join(F.broadcast(avg_parts))
        .filter(_money("c_acctbal") * F.col("cnt_bal") > F.col("sum_bal"))
        .join(
            load(spark, sf_dir, "orders").filter(
                F.col("o_orderdate") >= _ts("2000-01-01")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
    )
    return (
        dormant.groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(_money("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


_Q22_SQL = """
WITH cust AS (
  SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
),
avg_parts AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS sum_bal, count(*) AS cnt_bal
  FROM cust WHERE c_acctbal > 0.0
)
SELECT cntrycode, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
FROM cust, avg_parts
WHERE CAST(c_acctbal AS DECIMAL(18,6)) * cnt_bal > sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


QUERIES = (
    (q2_min_acctbal_supplier, _Q2_SQL),
    (q4_priority_late_ship, _Q4_SQL),
    (q6_forecast_revenue, _Q6_SQL),
    (q7_volume_shipping, _Q7_SQL),
    (q8_market_share, _Q8_SQL),
    (q9_product_type_profit, _Q9_SQL),
    (q10_returned_items, _Q10_SQL),
    (q11_part_value_concentration, _Q11_SQL),
    (q12_shipping_delay_buckets, _Q12_SQL),
    (q13_customer_distribution, _Q13_SQL),
    (q15_top_supplier, _Q15_SQL),
    (q20_heavy_red_suppliers, _Q20_SQL),
    (q21_waiting_suppliers, _Q21_SQL),
    (q22_dormant_customers, _Q22_SQL),
)
