"""Classic warehouse query shapes beyond the basics: correlated
subqueries (decorrelated by Catalyst), disjunctive join predicates,
conditional-ratio aggregates, distinct-count rollups, and a
sessionized conversion funnel.

Each has an exact DuckDB oracle (column names + decimal money
contract as in relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load
from .relational import _money


def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio per month. The
    ratio divides two exact decimal sums cast to double — identical
    in both engines."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    disc_price = _money("l_extendedprice") * (1 - _money("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", disc_price).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price).cast("double")
            ).alias("promo_ratio"),
            F.round(F.sum(disc_price), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("ship_year")
    )


_Q14_SQL = """
SELECT year(l_shipdate) AS ship_year,
       100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                     THEN CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                        * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE)
         AS promo_ratio,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
         AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY year(l_shipdate)
ORDER BY ship_year
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) — expressed as an aggregate + self-join, the
    decorrelated form Catalyst itself would produce; one shuffle on
    partkey co-partitions both the average and the probe."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    # The threshold test q < 0.2·avg(q) is restated as the exact
    # decimal inequality 5·q·count < sum: avg() of fractional doubles
    # differs across engines in the last ulp, which flips borderline
    # rows; decimal sums are exact in both.
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.sum(_money("l_quantity")).alias("sum_qty"),
        F.count("*").alias("cnt_qty"),
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(avg_qty, li["l_partkey"] == avg_qty["ap_partkey"])
        .filter(_money("l_quantity") * 5 * F.col("cnt_qty") < F.col("sum_qty"))
        .agg(
            (F.round(F.sum(_money("l_extendedprice")), 2).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_lines"),
        )
    )


_Q17_SQL = """
WITH per_part AS (
  SELECT l_partkey AS ap_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty,
         count(*) AS cnt_qty
  FROM lineitem GROUP BY 1
)
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) / 7.0
         AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN per_part ON ap_partkey = l_partkey
WHERE p_brand = 'Brand#2'
  AND CAST(l_quantity AS DECIMAL(18,6)) * 5 * cnt_qty < sum_qty
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs join predicate. The equi-key
    (partkey) still drives the join; the disjunction is a post-join
    filter, so no nested-loop blowup."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 5))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.round(F.sum(_money("l_extendedprice") * (1 - _money("l_discount"))), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_Q19_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 5)
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count rollup per part attribute."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.countDistinct("l_partkey").alias("part_cnt"),
        )
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


_Q16_SQL = """
SELECT p_brand, p_type,
       count(DISTINCT l_suppkey) AS supplier_cnt,
       count(DISTINCT l_partkey) AS part_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
"""


def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized conversion funnel: per user, first click and first
    purchase at-or-after it. Two aggregations over the same user_id
    partitioning — the second groupBy reuses the first's shuffle."""
    e = load(spark, sf_dir, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("p_ts"))
    return (
        first_click.join(purchases, "user_id", "left")
        .withColumn(
            "valid_p_ts", F.when(F.col("p_ts") >= F.col("first_click_ts"), F.col("p_ts"))
        )
        .groupBy("user_id", "first_click_ts")
        .agg(F.min("valid_p_ts").alias("first_purchase_ts"))
        .withColumn("converted", F.col("first_purchase_ts").isNotNull())
        .orderBy("user_id")
    )


_FUNNEL_SQL = """
WITH fc AS (
  SELECT user_id, min(ts) AS first_click_ts
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
fp AS (
  SELECT fc.user_id, fc.first_click_ts, min(e.ts) AS first_purchase_ts
  FROM fc LEFT JOIN events e
    ON e.user_id = fc.user_id
   AND e.event_type = 'purchase'
   AND e.ts >= fc.first_click_ts
  GROUP BY fc.user_id, fc.first_click_ts
)
SELECT user_id, first_click_ts, first_purchase_ts,
       first_purchase_ts IS NOT NULL AS converted
FROM fp
ORDER BY user_id
"""


def approx_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HyperLogLog++ / quantile sketch), made
    oracle-matchable: the sketch values themselves are engine-specific,
    so the emitted columns are the EXACT counts plus boolean flags
    asserting the sketch landed within its documented error bound
    (HLL++ rsd=0.05 → flag at 15% = 3σ; approx_percentile rank error →
    10% value tolerance).  The oracle emits the same exact counts with
    literal TRUE flags — any sketch regression breaks the hash match
    while the output stays deterministic."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_orderkey").alias("_a_orders"),
            F.approx_count_distinct("l_partkey").alias("_a_parts"),
            F.expr("approx_percentile(l_extendedprice, 0.5)").alias("_a_median"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("_x_median"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            "exact_parts",
            (F.abs(F.col("_a_orders") - F.col("exact_orders"))
             <= 0.15 * F.col("exact_orders")).alias("approx_orders_ok"),
            (F.abs(F.col("_a_parts") - F.col("exact_parts"))
             <= 0.15 * F.col("exact_parts")).alias("approx_parts_ok"),
            (F.abs(F.col("_a_median") - F.col("_x_median"))
             <= 0.10 * F.abs(F.col("_x_median"))).alias("approx_median_ok"),
        )
        .orderBy("l_returnflag")
    )


_APPROX_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       count(DISTINCT l_partkey)  AS exact_parts,
       TRUE AS approx_orders_ok,
       TRUE AS approx_parts_ok,
       TRUE AS approx_median_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def open_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — how many orders are placed but not
    yet fully shipped on each calendar day, the operations curve a
    warehouse sizes its floor from. An order is OPEN from its order
    date through the max ship date across its line items
    (inclusive). Same sweep-line shape as
    [[max_concurrent_sessions]]: +1 on open day, −1 on the day after
    close, dense day spine, running sum.

    Scale: one lineitem rollup (map-side max per order), one join to
    orders on the order key, then ALL arithmetic happens on the
    per-day delta relation — bounded by the calendar range, so the
    cumulative window uses the sanctioned one_group form (an
    unbounded time domain would ride ranged_prefix). Output rows =
    days, flat at any order count."""
    from pyspark.sql import Window

    from .prefix import one_group

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    close = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_date"))
    iv = orders.select("o_orderkey", "o_orderdate").join(
        close, F.col("o_orderkey") == F.col("l_orderkey")
    )
    deltas = iv.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.lit(1).cast("bigint").alias("d"),
    ).unionAll(
        iv.select(
            F.date_add(F.col("close_date").cast("date"), 1).alias("day"),
            F.lit(-1).cast("bigint").alias("d"),
        )
    )
    per_day = deltas.groupBy("day").agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("n_opened"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).alias("n_closed"),
        F.sum("d").alias("net"),
    )
    spine = per_day.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("day"))
    dense = spine.join(per_day, "day", "left").select(
        "day",
        F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
        F.coalesce("net", F.lit(0)).alias("net"),
    )
    w = (
        Window.partitionBy(one_group(F.col("day")))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "day", "n_opened", "n_closed", F.sum("net").over(w).alias("backlog")
    ).orderBy("day")


_BACKLOG_SQL = """
WITH close AS (
  SELECT l_orderkey, max(l_shipdate) AS close_date
  FROM lineitem GROUP BY l_orderkey
),
iv AS (
  SELECT o.o_orderdate, c.close_date
  FROM orders o JOIN close c ON c.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT o_orderdate AS day, 1::BIGINT AS d FROM iv
  UNION ALL
  SELECT close_date + INTERVAL 1 DAY, -1::BIGINT FROM iv
),
per_day AS (
  SELECT CAST(day AS DATE) AS day,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_opened,
         sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)::BIGINT AS n_closed,
         CAST(sum(d) AS BIGINT) AS net
  FROM deltas GROUP BY 1
),
spine AS (
  SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
  FROM per_day
)
SELECT s.day,
       coalesce(p.n_opened, 0)::BIGINT AS n_opened,
       coalesce(p.n_closed, 0)::BIGINT AS n_closed,
       CAST(sum(coalesce(p.net, 0)) OVER (ORDER BY s.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
FROM spine s LEFT JOIN per_day p ON p.day = s.day
ORDER BY s.day
"""


QUERIES = (
    (open_orders_backlog, _BACKLOG_SQL),
    (q14_promo_revenue_ratio, _Q14_SQL),
    (q17_small_quantity_revenue, _Q17_SQL),
    (q19_disjunctive_revenue, _Q19_SQL),
    (q16_supplier_variety, _Q16_SQL),
    (funnel_click_to_purchase, _FUNNEL_SQL),
    (approx_distinct_stats, _APPROX_SQL),
)
