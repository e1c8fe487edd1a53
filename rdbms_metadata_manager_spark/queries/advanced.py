"""Advanced relational operators: as-of join, range join, grouping
sets, keep-latest dedup, percentiles/correlation, extended window
functions, array/null/datetime scalar coverage.

These are the operators a warehouse user reaches for beyond the
basics; each has an exact DuckDB oracle. The as-of and range joins
deliberately use the SCALABLE formulations (union+window, bucketed
candidate join) rather than non-equi joins, because a non-equi join
at 100 TB is a cross-join-shaped disaster while these shapes shuffle
on keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load, load_spread


def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each purchase event, the most recent click at
    or before it by the same user.

    Spark-first formulation: NOT a non-equi join — union both event
    roles into one stream, then a running max of click-ts per user
    over the time ordering. One shuffle on user_id, linear scan;
    scales to any stream length."""
    e = load_spread(spark, sf_dir, "events", "user_id")
    both = e.filter(F.col("event_type").isin("click", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        both.withColumn("last_click_ts", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("gap_us"),
        )
        .orderBy("user_id", "purchase_event_id")
    )


_ASOF_SQL = """
WITH both_types AS (
  SELECT * FROM events WHERE event_type IN ('click', 'purchase')
),
marked AS (
  SELECT user_id, event_id, ts, event_type,
         max(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM both_types
)
SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts, last_click_ts,
       epoch_us(ts) - epoch_us(last_click_ts) AS gap_us
FROM marked
WHERE event_type = 'purchase'
ORDER BY user_id, purchase_event_id
"""


def range_join_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE join: per error event, how many other events the same
    user produced within ±5 minutes.

    Scalable shape: bucket time into 5-minute cells, explode each
    error into its 3 candidate cells, equi-join on (user, cell), then
    refine with the exact predicate — the band-join pattern that
    keeps a time-range join shuffle-based."""
    e = load_spread(spark, sf_dir, "events", "user_id")
    bucket = F.floor(F.unix_micros("ts") / F.lit(300_000_000)).cast("bigint")
    all_e = e.select("user_id", F.col("event_id").alias("other_id"), F.col("ts").alias("other_ts"), bucket.alias("cell"))
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("cell"),
    )
    return (
        errors.join(all_e, ["user_id", "cell"])
        .filter(
            (F.col("other_id") != F.col("error_id"))
            & (F.abs(F.unix_micros("other_ts") - F.unix_micros("error_ts")) <= 300_000_000)
        )
        .groupBy("user_id", "error_id", "error_ts")
        .agg(F.count("*").alias("n_nearby"))
        .orderBy("user_id", "error_id")
    )


_RANGE_SQL = """
SELECT e.user_id, e.event_id AS error_id, e.ts AS error_ts, count(*) AS n_nearby
FROM events e
JOIN events o
  ON o.user_id = e.user_id
 AND o.event_id != e.event_id
 AND abs(epoch_us(o.ts) - epoch_us(e.ts)) <= 300000000
WHERE e.event_type = 'error'
GROUP BY e.user_id, e.event_id, e.ts
ORDER BY e.user_id, error_id
"""


def grouping_sets_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (hypertable-style): per-day, per-month,
    and grand-total in one pass via GROUPING SETS (SQL API — the DF
    API exposes only cube/rollup)."""
    e = load(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT date_trunc('day', ts)   AS day_bucket,
               date_trunc('month', ts) AS month_bucket,
               count(*)                AS n_events,
               round(sum(value), 4)    AS sum_value
        FROM events_gs
        GROUP BY GROUPING SETS ((date_trunc('day', ts)), (date_trunc('month', ts)), ())
        ORDER BY day_bucket ASC NULLS FIRST, month_bucket ASC NULLS FIRST
        """
    )


_GROUPING_SETS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)   AS day_bucket,
       CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_bucket,
       count(*)                AS n_events,
       round(sum(value), 4)    AS sum_value
FROM events
GROUP BY GROUPING SETS ((CAST(date_trunc('day', ts) AS TIMESTAMP)),
                        (CAST(date_trunc('month', ts) AS TIMESTAMP)), ())
ORDER BY day_bucket ASC NULLS FIRST, month_bucket ASC NULLS FIRST
"""


def dedup_keep_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-key dedup policy: the longest document per
    (lang, source), ties broken by doc_id — the canonical
    row_number()=1 pattern (dropDuplicates can't express an ordered
    keep policy)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "source", "doc_id", "n_chars")
        .orderBy("lang", "source")
    )


_KEEP_BEST_SQL = """
SELECT lang, source, doc_id, n_chars
FROM (SELECT lang, source, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) t
WHERE rn = 1
ORDER BY lang, source
"""


def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median definition matches
    DuckDB's quantile_cont) per order priority."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
            F.round(F.min("o_totalprice"), 2).alias("mn"),
            F.round(F.max("o_totalprice"), 2).alias("mx"),
        )
        .orderBy("o_orderpriority")
    )


_PERCENTILE_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       round(min(o_totalprice), 2) AS mn,
       round(max(o_totalprice), 2) AS mx
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def correlation_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covar_samp per return flag."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


_CORR_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / percent_rank / cume_dist / ntile in one pass."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_nationkey") <= 5)
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.dense_rank().over(w).alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("c_nationkey", "c_custkey")


_WINDOW_RANK_SQL = """
SELECT c_nationkey, c_custkey,
       dense_rank()   OVER w AS drank,
       round(percent_rank() OVER w, 6) AS prank,
       round(cume_dist()    OVER w, 6) AS cdist,
       ntile(4)       OVER w AS quartile
FROM customer
WHERE c_nationkey <= 5
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_nationkey, c_custkey
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: for each order, count of same-customer orders
    within ±1,000,000 in total price (value-based frame, not rows)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 30)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1_000_000, 1_000_000)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_similar_price"),
    ).orderBy("o_custkey", "o_orderkey")


_WINDOW_RANGE_SQL = """
SELECT o_custkey, o_orderkey,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 1000000 PRECEDING AND 1000000 FOLLOWING)
         AS n_similar_price
FROM orders
WHERE o_custkey <= 30
ORDER BY o_custkey, o_orderkey
"""


def array_posexplode_part_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode + array functions over split part names."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 50)
    words = F.split(F.col("p_name"), " ")
    return (
        p.select("p_partkey", F.posexplode(words).alias("pos", "word"))
        .orderBy("p_partkey", "pos")
    )


_ARRAY_SQL = """
SELECT p_partkey, CAST(g.i - 1 AS INT) AS pos, string_split(p_name, ' ')[g.i] AS word
FROM part, unnest(range(1, len(string_split(p_name, ' ')) + 1)) AS g(i)
WHERE p_partkey <= 50
ORDER BY p_partkey, pos
"""


def null_handling_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / null predicates over a null-producing
    window (first order per customer has no previous)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 30)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(prev, F.lit(0.0)).alias("prev_price_or_zero"),
        prev.isNull().alias("is_first_order"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_unless_open"),
    ).orderBy("o_custkey", "o_orderkey")


_NULL_SQL = """
SELECT o_custkey, o_orderkey,
       coalesce(lag(o_totalprice) OVER w, 0.0) AS prev_price_or_zero,
       lag(o_totalprice) OVER w IS NULL        AS is_first_order,
       nullif(o_orderstatus, 'O')              AS status_unless_open
FROM orders
WHERE o_custkey <= 30
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


def datetime_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_add / add_months / last_day / quarter / day extraction."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.add_months(d, 2).alias("plus_2mo"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).alias("qtr"),
        F.dayofmonth(d).alias("dom"),
    ).orderBy("o_orderkey")


_DATETIME_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE)                 AS order_date,
       CAST(o_orderdate AS DATE) + 30            AS due_date,
       CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
       last_day(CAST(o_orderdate AS DATE))       AS month_end,
       quarter(o_orderdate)                      AS qtr,
       day(o_orderdate)                          AS dom
FROM orders
WHERE o_orderkey <= 200
ORDER BY o_orderkey
"""


def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_or / bool_and / filtered aggregation."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.expr("count_if(l_discount > 0.05)").alias("n_discounted"),
            F.expr("bool_or(l_quantity > 45)").alias("any_bulk"),
            F.expr("bool_and(l_quantity > 0)").alias("all_positive"),
            F.round(
                F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(0.0)), 2
            ).alias("returned_qty"),
        )
        .orderBy("l_linestatus")
    )


_CONDITIONAL_SQL = """
SELECT l_linestatus,
       count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       bool_or(l_quantity > 45)                  AS any_bulk,
       bool_and(l_quantity > 0)                  AS all_positive,
       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END), 2) AS returned_qty
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def map_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: JSON → map, keys/values/lookup/size.

    ``prop_keys`` is a sorted ``,``-joined string (not a raw array) so
    external canonicalizers that hash scalar cells can compare it;
    sorting makes the digest independent of JSON key insertion order.
    """
    e = load(spark, sf_dir, "events").filter(F.col("event_id") <= 200)
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        F.size(m).alias("n_props"),
        F.element_at(m, "k").alias("k_value"),
        F.map_contains_key(m, "missing").alias("has_missing"),
    ).orderBy("event_id")


_MAP_SQL = """
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',')     AS prop_keys,
       len(json_keys(props))                                 AS n_props,
       CAST(json_extract_string(props, '$.k') AS INT)        AS k_value,
       json_extract_string(props, '$.missing') IS NOT NULL   AS has_missing
FROM events
WHERE event_id <= 200
ORDER BY event_id
"""


def listagg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``listagg(...) WITHIN GROUP (ORDER BY ...)`` — ordered
    string aggregation (the SQL:2016 report staple). The explicit
    WITHIN GROUP order is what makes a string aggregate deterministic
    at any parallelism; an unordered concat varies run to run."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(
        """
        SELECT r.r_name AS region,
               count(*) AS n_nations,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY region
        """
    )


_LISTAGG_SQL = """
SELECT r.r_name AS region,
       count(*) AS n_nations,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY region
"""


def null_safe_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`eqNullSafe` / `<=>` ↔ SQL
    `IS NOT DISTINCT FROM`): events banded by value-hundreds, with
    NULL as a first-class band (error events carry no monetary band),
    joined to an inline band-dimension whose rows INCLUDE the NULL
    band. A plain equi-join silently drops every NULL-keyed row —
    the classic "unknown bucket vanished from the rollup" bug; the
    null-safe operator keeps NULL = NULL matches inside an ordinary
    broadcast hash join (Spark plans `<=>` as a coalesce-normalized
    hash key, so the join strategy and its scale story are unchanged).
    """
    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.floor(F.col("value") / 100).cast("long"))
        .alias("band")
    )
    dim = spark.sql(
        "SELECT * FROM VALUES (0, 'band0'), (1, 'band1'), (2, 'band2'), "
        "(3, 'band3'), (4, 'band4'), (CAST(NULL AS BIGINT), 'unbanded') AS t(band, label)"
    )
    return (
        ev.join(F.broadcast(dim), ev["band"].eqNullSafe(dim["band"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("label")
    )


def try_arithmetic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic (`try_divide` / `try_cast`): Spark 4 runs
    ANSI mode by default, so a plain `value / floor(value)` THROWS on
    the sub-1.0 events (floor → 0) instead of silently returning
    null; `try_*` is the documented per-expression escape that keeps
    the job alive and turns the failure into an auditable NULL. The
    report counts, per event type, rows whose division degraded and
    whose props-key cast survived — the data-quality triage a
    pipeline runs before tightening its schema. Oracle expresses the
    same semantics with guard CASEs (DuckDB division never throws)."""
    ev = load(spark, sf_dir, "events")
    q = F.expr("try_divide(value, floor(value))")
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(q.isNull().cast("bigint")).alias("n_div_degraded"),
            F.sum(k.isNotNull().cast("bigint")).alias("n_k_parsed"),
        )
        .orderBy("event_type")
    )


_TRY_ARITH_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       sum(CASE WHEN floor(value) = 0 OR value IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_div_degraded,
       sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_k_parsed
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_NULL_SAFE_JOIN_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_type = 'error' THEN NULL
              ELSE CAST(floor(value / 100) AS BIGINT) END AS band
  FROM events
),
dim(band, label) AS (
  VALUES (0, 'band0'), (1, 'band1'), (2, 'band2'),
         (3, 'band3'), (4, 'band4'), (CAST(NULL AS BIGINT), 'unbanded')
)
SELECT d.label, count(*) AS n_events
FROM ev JOIN dim d ON ev.band IS NOT DISTINCT FROM d.band
GROUP BY d.label
ORDER BY d.label
"""



ATTRIB_WINDOW_DAYS = 7


def bitwise_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family over event ids — the last scalar
    family the function faces didn't cover (strings/dates/math/
    arrays/maps each have one): AND/OR/XOR, shifts, bit_count, NOT,
    plus the flag-extraction idiom ((id >> k) & 1) every bitmap/
    permission column decodes with. All int64, bit-identical across
    engines by definition. Scale: pure projection."""
    e = load_spread(spark, sf_dir, "events", "user_id").filter(
        F.col("event_id") < 50
    )
    return e.select(
        "event_id",
        F.expr("event_id & 2863311530").alias("band"),
        F.expr("event_id | 5").alias("bor"),
        F.expr("event_id ^ user_id").alias("bxor"),
        F.expr("shiftleft(event_id, 3)").alias("shl"),
        F.expr("shiftright(event_id, 1)").alias("shr"),
        F.expr("bit_count(event_id)").cast("bigint").alias("nbits"),
        F.expr("~event_id").alias("bnot"),
        F.expr("(event_id >> 2) & 1").cast("bigint").alias("flag2"),
    ).orderBy("event_id")


_BITWISE_SQL = """
SELECT event_id,
       event_id & 2863311530 AS band,
       event_id | 5 AS bor,
       xor(event_id, user_id) AS bxor,
       event_id << 3 AS shl,
       event_id >> 1 AS shr,
       bit_count(event_id)::BIGINT AS nbits,
       ~event_id AS bnot,
       ((event_id >> 2) & 1)::BIGINT AS flag2
FROM events
WHERE event_id < 50
ORDER BY event_id
"""



def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch revenue attribution — the marketing-
    analytics workhorse next to [[asof_join_last_click]]'s last-touch
    face: every purchase's value splits EQUALLY across the same
    user's non-purchase touchpoints in the preceding 7 days, and the
    report rolls attributed revenue up per touch channel
    (event_type). Purchases with no preceding touch report under
    '(none)'. Exact integer split: each touch gets value_cents div n,
    the LATEST touch (ts, event_id tiebreak) absorbs the remainder —
    total attributed cents equals total purchase cents by
    construction, the invariant the test pins.

    Scale: one user-keyed equi-join with a time-range predicate
    (fanout bounded by a user's 7-day activity, never cross-user),
    one per-conversion rank window (group size = that fanout), one
    channel rollup. All integer cents; the 7-day bound is what keeps
    state linear at 100 TB."""
    e = load_spread(spark, sf_dir, "events", "user_id")
    conv = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.unix_micros("ts").alias("conv_us"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("value_cents"),
    )
    # distinct column name on the touch side: both sides share the
    # events lineage, and a same-name dataframe-qualified equality
    # triggers Spark's ambiguous-self-join heuristics (resolution via
    # plan ids is correct, but the explicit rename is unambiguous)
    touch = e.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("touch_us"),
    )
    win_us = ATTRIB_WINDOW_DAYS * 86400 * 1_000_000
    # ONE pass over the user-keyed range join: LEFT join keeps
    # conversions with no preceding touch as a single null-touch row,
    # so the '(none)' leg no longer RE-RUNS the whole join as an
    # anti-join probe (the previous union's untouched branch was a
    # second full evaluation of the pairs subtree — guide §1.2). The
    # window count switches to count(touch_id), which ignores the
    # null-touch rows, so n and the remainder assignment are
    # unchanged for every conversion that has touches; a no-touch
    # conversion takes the whole value on its single row, exactly the
    # old '(none)' branch.
    pairs = conv.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_us") < F.col("conv_us"))
        & (F.col("touch_us") >= F.col("conv_us") - F.lit(win_us)),
        "left",
    ).select("conv_id", "value_cents", "channel", "touch_us", "touch_id")
    wn = Window.partitionBy("conv_id")
    wr = Window.partitionBy("conv_id").orderBy(
        F.desc("touch_us"), F.desc("touch_id")
    )
    attributed = (
        pairs.withColumn("n", F.count("touch_id").over(wn))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            F.coalesce(F.col("channel"), F.lit("(none)")).alias("channel"),
            F.when(F.col("touch_id").isNull(), F.col("value_cents"))
            .otherwise(
                F.expr("value_cents div n")
                + F.when(
                    F.col("rk") == 1, F.expr("value_cents - n * (value_cents div n)")
                ).otherwise(F.lit(0))
            )
            .alias("cents"),
        )
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touchpoints"),
            F.sum("cents").alias("attributed_cents"),
        )
        .orderBy("channel")
    )


_ATTRIB_SQL = f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS conv_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_id AS touch_id, event_type AS channel,
         epoch_us(ts) AS touch_us
  FROM events WHERE event_type != 'purchase'
),
pairs AS (
  SELECT c.conv_id, c.value_cents, t.channel, t.touch_us, t.touch_id
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.touch_us < c.conv_us
   AND t.touch_us >= c.conv_us - {ATTRIB_WINDOW_DAYS}::BIGINT * 86400 * 1000000
),
attributed AS (
  SELECT channel,
         value_cents // n
           + CASE WHEN rk = 1 THEN value_cents - n * (value_cents // n)
                  ELSE 0 END AS cents
  FROM (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY touch_us DESC, touch_id DESC) AS rk
        FROM pairs)
),
untouched AS (
  SELECT '(none)' AS channel, value_cents AS cents
  FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM pairs)
)
SELECT channel, count(*)::BIGINT AS n_touchpoints,
       sum(cents)::BIGINT AS attributed_cents
FROM (SELECT * FROM attributed UNION ALL SELECT * FROM untouched)
GROUP BY channel
ORDER BY channel
"""


def event_type_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard similarity between event types' USER
    SETS — the audience-overlap matrix ("do clickers also purchase?")
    behind segment targeting and funnel design: J(a,b) =
    |U_a ∩ U_b| / |U_a ∪ U_b| over exact distinct-user sets, the
    EXACT twin of sketch-based overlap ([[hll_sketch_partition_union]]
    estimates set sizes; this takes the true intersection because the
    pair space is tiny even when the sets are not).

    Scale: ONE user-keyed shuffle — collect_set dedups (user, type)
    inside the aggregation, so there is no separate DISTINCT pass;
    set sizes AND intersections both derive from the materialized
    per-user type sets (per-user fanout bounded by |types|², NOT by
    events), and the |types|²-row spine is a broadcast cross join so
    zero-overlap pairs still report 0. All integer."""
    ev = load(spark, sf_dir, "events")
    ut_sets = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts"))
        .localCheckpoint(eager=False)
    )
    sz = (
        ut_sets.select(F.explode("ts").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        ut_sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "y -> struct(x AS ta, y AS tb))))"
                )
            ).alias("p")
        )
        .groupBy("p.ta", "p.tb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    spine = (
        sz.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a"))
        .crossJoin(
            F.broadcast(
                sz.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b"))
            )
        )
        .filter(F.col("ta") < F.col("tb"))
    )
    return (
        spine.join(F.broadcast(pairs), ["ta", "tb"], "left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .select(
            "ta",
            "tb",
            "n_a",
            "n_b",
            "inter",
            F.expr(
                "CAST((1000 * inter) div (n_a + n_b - inter) AS BIGINT)"
            ).alias("jaccard_permille"),
        )
        .orderBy("ta", "tb")
    )


_TYPE_JACCARD_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sz AS (SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*)::BIGINT AS inter
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT sa.event_type AS ta, sb.event_type AS tb,
       sa.n AS n_a, sb.n AS n_b,
       coalesce(p.inter, 0)::BIGINT AS inter,
       CAST((1000 * coalesce(p.inter, 0)) // (sa.n + sb.n - coalesce(p.inter, 0))
            AS BIGINT) AS jaccard_permille
FROM sz sa
JOIN sz sb ON sa.event_type < sb.event_type
LEFT JOIN pairs p ON p.ta = sa.event_type AND p.tb = sb.event_type
ORDER BY ta, tb
"""


QUERIES = (
    (bitwise_functions_events, _BITWISE_SQL),
    (multi_touch_attribution, _ATTRIB_SQL),
    (event_type_user_jaccard, _TYPE_JACCARD_SQL),
    (listagg_nations_per_region, _LISTAGG_SQL),
    (asof_join_last_click, _ASOF_SQL),
    (map_functions_events, _MAP_SQL),
    (range_join_error_bursts, _RANGE_SQL),
    (grouping_sets_event_rollup, _GROUPING_SETS_SQL),
    (dedup_keep_best_per_group, _KEEP_BEST_SQL),
    (percentile_order_values, _PERCENTILE_SQL),
    (correlation_quantity_price, _CORR_SQL),
    (window_rank_functions, _WINDOW_RANK_SQL),
    (window_range_frame, _WINDOW_RANGE_SQL),
    (array_posexplode_part_words, _ARRAY_SQL),
    (null_handling_order_gaps, _NULL_SQL),
    (null_safe_band_join, _NULL_SAFE_JOIN_SQL),
    (try_arithmetic_audit, _TRY_ARITH_SQL),
    (datetime_functions_orders, _DATETIME_SQL),
    (conditional_aggregates, _CONDITIONAL_SQL),
)
