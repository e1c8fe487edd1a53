"""Slowly-changing-dimension (SCD Type 2) interval building over
``events``.

[beyond-reference] the warehouse-dimension operator the reference's
metadata-only surface never touches (app.py has no temporal logic at
all). Collapses each user's event stream into validity intervals of
their current ``event_type`` state: one row per consecutive run, with
``valid_from``/``valid_to`` half-open bounds and NULL valid_to for
the current state. This is the gaps-and-islands pattern: a
change-flag via lag(), a running sum to number the runs, a per-run
aggregate, then lead() to close each interval with the next run's
start.

Cross-engine exactness: ordering inside every window is
(ts, event_id) — a total order, so run numbering is identical in both
engines; timestamps pass through untouched (micros in parquet both
sides).

Scale: all three windows and the run aggregate partition by
``user_id`` — ONE shuffle, reused across the whole plan (Spark plans
a single Exchange and pipelines the windows and the partial
aggregate over it). The classic mistake here is a self-join on
(user, run_id); lead() keeps it linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load
from ..llm.hashing import h32


def _state_intervals(events: DataFrame) -> DataFrame:
    """Gaps-and-islands SCD2 interval builder over any event subset:
    one row per consecutive (user_id, event_type) run with half-open
    [valid_from, valid_to) bounds, NULL valid_to = current state."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select("user_id", "ts", "event_id", "event_type").withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return intervals.withColumn("valid_to", F.lead("valid_from").over(w2))


def scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _state_intervals(load(spark, sf_dir, "events"))
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
        .orderBy("user_id", "valid_from")
    )


_SCD2_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, (sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_id
  FROM flagged
),
intervals AS (
  SELECT user_id, run_id, event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM runs GROUP BY user_id, run_id, event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       n_events
FROM intervals
ORDER BY user_id, valid_from
"""


def scd2_state_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time probes against the SCD2 dimension: how many users
    were in each state at every 6-hour snapshot — the temporal
    ("AS OF timestamp") lookup every warehouse runs against a Type-2
    dimension, here as a snapshot rollup over a generated spine.

    Join shape: the spine is tiny and broadcast, so the interval
    containment probe is a BroadcastNestedLoopJoin that stays LINEAR
    in the interval count (each interval row scans ~120 spine
    entries) — the shape that survives 100 TB because the broadcast
    side is calendar-bound, not data-bound. For a data-bound probe
    side, band both sides on a day bucket first (the
    `range_join_error_bursts` recipe) to recover an equi key.

    Exactness: interval bounds are event timestamps (micros) passed
    through untouched; the spine is integer-stepped; outputs are
    counts."""
    events = load(spark, sf_dir, "events")
    iv = scd2_user_state_intervals(spark, sf_dir)
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"), F.max("ts").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 6 hours"))).alias("snap_ts")
    )
    return (
        iv.join(
            F.broadcast(spine),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("valid_to").isNull() | (F.col("snap_ts") < F.col("valid_to"))),
        )
        .groupBy("snap_ts", "event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("snap_ts", "event_type")
    )


_SNAPSHOT_SQL = f"""
WITH intervals AS ({_SCD2_SQL.replace("ORDER BY user_id, valid_from", "")}),
b AS (SELECT date_trunc('day', min(ts)) AS lo, max(ts) AS hi FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS snap_ts FROM b)
SELECT s.snap_ts, i.event_type, count(*)::BIGINT AS n_users
FROM intervals i
JOIN spine s ON i.valid_from <= s.snap_ts
            AND (i.valid_to IS NULL OR s.snap_ts < i.valid_to)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def pit_state_at_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time ("AS OF event time") fact lookup against the
    SCD2 dimension: for every purchase event, the browsing state —
    the run of non-purchase activity — the user was in when the
    purchase happened, i.e. the feature-time-travel join a training
    pipeline runs to avoid label leakage (features must come from the
    state valid AT the fact's timestamp, never a later one).

    Join shape: equi on user_id + interval containment → sort-merge
    on user_id with a per-key linear interval scan. Intervals are
    non-overlapping and half-open, so every fact matches at most one
    dimension row — no fan-out. LEFT join keeps purchases that
    precede any browse state (state columns NULL), the outer-asof
    semantics. Both sides shuffle once on user_id; at 100 TB the
    dimension is orders of magnitude smaller than the fact stream and
    the same plan holds (or broadcast the dimension when it fits)."""
    ev = load(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    dim = _state_intervals(ev.filter(F.col("event_type") != "purchase"))
    return (
        facts.alias("f")
        .join(
            dim.alias("d"),
            (F.col("f.user_id") == F.col("d.user_id"))
            & (F.col("d.valid_from") <= F.col("f.ts"))
            & (F.col("d.valid_to").isNull() | (F.col("f.ts") < F.col("d.valid_to"))),
            "left",
        )
        .select(
            F.col("f.event_id").alias("event_id"),
            F.col("f.user_id").alias("user_id"),
            F.col("f.ts").alias("ts"),
            F.col("d.event_type").alias("state_type"),
            F.col("d.valid_from").alias("state_since"),
        )
        .orderBy("event_id")
    )


_PIT_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, (sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_id
  FROM flagged
),
intervals AS (
  SELECT user_id, run_id, event_type, min(ts) AS valid_from
  FROM runs GROUP BY user_id, run_id, event_type
),
dim AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
  FROM intervals
)
SELECT f.event_id, f.user_id, f.ts,
       d.event_type AS state_type, d.valid_from AS state_since
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') f
LEFT JOIN dim d ON d.user_id = f.user_id
               AND d.valid_from <= f.ts
               AND (d.valid_to IS NULL OR f.ts < d.valid_to)
ORDER BY event_id
"""


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot DATA DIFF (the audit face of CDC): two
    deterministic versions of ``orders`` are derived from a salted
    md5 bucket of the key — v1 = buckets 0-89, v2 = buckets 10-99
    with a +1.00 price edit in buckets 40-49 — then FULL OUTER joined
    on the key and every row classified added / removed / changed /
    unchanged. Output is the per-class count (the diff summary a
    pipeline alerts on).

    Scale: ONE co-partitioned full-outer join on the snapshot key —
    both sides shuffle on o_orderkey and never again. The change
    test here compares the two business columns directly; at 100 TB
    wide tables you'd compare a per-row hash computed inside each
    scan (same join shape, 16-byte payload). The synthetic versions
    make the expected classes closed-form testable: each class is
    non-empty by construction at every SF."""
    orders = load(spark, sf_dir, "orders")
    bucket = h32(F.concat(F.lit("snap:"), F.col("o_orderkey").cast("string"))) % 100
    base = orders.select(
        "o_orderkey",
        bucket.alias("bucket"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).alias("cents"),
    )
    v1 = base.filter(F.col("bucket") < 90).select(
        "o_orderkey", F.col("o_orderstatus").alias("status1"), F.col("cents").alias("cents1")
    )
    v2 = base.filter(F.col("bucket") >= 10).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status2"),
        F.when((F.col("bucket") >= 40) & (F.col("bucket") < 50), F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents2"),
    )
    diff = v1.join(v2, "o_orderkey", "full_outer").select(
        F.when(F.col("cents1").isNull(), "added")
        .when(F.col("cents2").isNull(), "removed")
        .when(
            (F.col("cents1") != F.col("cents2"))
            | (F.col("status1") != F.col("status2")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status")
    )
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_rows")).orderBy("status")


_SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey,
         ('0x' || substr(md5('snap:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100
           AS bucket,
         o_orderstatus,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
v1 AS (
  SELECT o_orderkey, o_orderstatus AS status1, cents AS cents1
  FROM base WHERE bucket < 90
),
v2 AS (
  SELECT o_orderkey, o_orderstatus AS status2,
         CASE WHEN bucket >= 40 AND bucket < 50 THEN cents + 100 ELSE cents END AS cents2
  FROM base WHERE bucket >= 10
),
diff AS (
  SELECT CASE WHEN cents1 IS NULL THEN 'added'
              WHEN cents2 IS NULL THEN 'removed'
              WHEN cents1 <> cents2 OR status1 <> status2 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
)
SELECT status, count(*)::BIGINT AS n_rows FROM diff GROUP BY status ORDER BY status
"""


def state_dwell_time_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state report over the SCD2 state machine — for each
    state (event type), the total dwell time across all users' CLOSED
    intervals and its share of all closed dwell time: the
    "where do users actually spend their time" readout that event
    COUNTS can't give (one long error state outweighs a hundred
    quick clicks). Rides the same `_state_intervals` kernel as
    [[scd2_user_state_intervals]]; open (current) states have no end
    yet and are excluded, like every duration metric over an
    unfinished interval.

    Exactness: dwell carried in integer epoch micros; the share is
    1000·dwell div total with the sum widened to DECIMAL(38,0)/
    HUGEINT (micros sums reach 1e19 at ~1e7 user-years — past
    int64). Scale: the interval build is the one user-keyed shuffle
    the SCD2 family shares; this adds a |states|-row rollup."""
    iv = _state_intervals(load(spark, sf_dir, "events")).filter(
        F.col("valid_to").isNotNull()
    )
    per = iv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(
            (F.unix_micros("valid_to") - F.unix_micros("valid_from")).cast(
                "decimal(38,0)"
            )
        ).alias("dwell_us"),
    )
    tot = per.agg(F.sum("dwell_us").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_intervals",
            F.col("dwell_us").cast("bigint").alias("dwell_us"),
            F.expr("CAST(1000 * dwell_us div t AS BIGINT)").alias(
                "dwell_share_permille"
            ),
        )
        .orderBy("event_type")
    )


_DWELL_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, (sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_id
  FROM flagged
),
intervals AS (
  SELECT user_id, run_id, event_type, min(ts) AS valid_from
  FROM runs GROUP BY user_id, run_id, event_type
),
closed AS (
  SELECT event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to
  FROM intervals
),
per AS (
  SELECT event_type, count(*)::BIGINT AS n_intervals,
         sum(epoch_us(valid_to) - epoch_us(valid_from))::HUGEINT AS dwell_us
  FROM closed WHERE valid_to IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n_intervals,
       CAST(dwell_us AS BIGINT) AS dwell_us,
       CAST(1000 * dwell_us // (SELECT sum(dwell_us) FROM per) AS BIGINT)
         AS dwell_share_permille
FROM per
ORDER BY event_type
"""


QUERIES = (
    (scd2_user_state_intervals, _SCD2_SQL),
    (state_dwell_time_shares, _DWELL_SQL),
    (scd2_state_snapshots, _SNAPSHOT_SQL),
    (pit_state_at_purchase, _PIT_SQL),
    (snapshot_diff_orders, _SNAPSHOT_DIFF_SQL),
)
