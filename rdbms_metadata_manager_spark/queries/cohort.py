"""Cohort / retention analytics over ``events``.

[beyond-reference] classic OLAP surface the reference lacks entirely
(its only output is the per-column issue report, app.py:127-133).
Cohort retention is the canonical "needs two passes over the same
grouping key" query shape: assign each user to the day of their
first event, then count how many of each cohort remain active N
days later.

Day indexing is pure integer math on epoch seconds
(``epoch // 86400``) — no calendar truncation, so Spark and DuckDB
agree exactly (date_trunc('week') is locale/engine-sensitive; integer
day buckets are not).

Scale: both aggregates shuffle on ``user_id`` — Spark plans the
first-event aggregate and the distinct (user, day) activity set over
the SAME exchange (AQE reuse), then the cohort matrix groupBy is over
(cohort_day, offset), a few hundred groups. The cohort-size table is
cohorts-count rows, broadcast back for the rate. At 100 TB the only
big shuffle is the one-pass user_id partitioning you would pre-bucket
the event log by anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import DAY_SECONDS, load



def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix: (cohort_day, day_offset) →
    distinct active users, cohort size, and retention rate. One
    division per output row on integer-exact counts (bit-identical
    cross-engine)."""
    events = load(spark, sf_dir, "events")
    daily = events.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / DAY_SECONDS).alias("day_idx"),
    )
    cohorts = daily.groupBy("user_id").agg(F.min("day_idx").alias("cohort_day"))
    activity = daily.distinct()
    matrix = (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_day", (F.col("day_idx") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    sizes = cohorts.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        matrix.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "active_users",
            "cohort_size",
            (F.col("active_users").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention_rate"
            ),
        )
        .orderBy("cohort_day", "day_offset")
    )


_COHORT_SQL = f"""
WITH daily AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // {DAY_SECONDS} AS day_idx
  FROM events
),
cohorts AS (
  SELECT user_id, min(day_idx) AS cohort_day FROM daily GROUP BY user_id
),
matrix AS (
  SELECT c.cohort_day, w.day_idx - c.cohort_day AS day_offset,
         count(DISTINCT w.user_id) AS active_users
  FROM daily w JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_day, count(DISTINCT user_id) AS cohort_size
  FROM cohorts GROUP BY cohort_day
)
SELECT m.cohort_day, m.day_offset, m.active_users, s.cohort_size,
       m.active_users::DOUBLE / s.cohort_size::DOUBLE AS retention_rate
FROM matrix m JOIN sizes s USING (cohort_day)
ORDER BY m.cohort_day, m.day_offset
"""


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the 10 most common 3-step
    event-type paths across user histories — the behavior-modeling
    aggregate (session path analysis / next-event training data) that
    MATCH_RECOGNIZE engines special-case; two lead() windows express
    it relationally.

    Scale: one shuffle on user_id for the window pair, then a
    map-side-combined count on a short path string (≤ |event_types|³
    = 125 distinct groups here), and the top-10 compiles to
    TakeOrderedAndProject — no full sort, no second wide shuffle."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(10)
    )


_PATHS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       count(*) AS n_paths
FROM seq
WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n_paths DESC, path
LIMIT 10
"""


def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve) —
    the growth metric every product pipeline computes, and the
    classic sliding-distinct trap: a naive per-day rescan is 7× the
    data, and RANGE-frame windows can't do DISTINCT.

    Spark-first shape: dedup to (user, active-day) pairs once, then
    EXPLODE each pair into the 7 window-end days it contributes to
    (day .. day+6) and count distinct per window-end — one shuffle of
    7× the (16-byte) pair keys, no rescan, no per-day loop. Exact.
    At 100 TB you swap countDistinct for an HLL sketch merged per
    day (approx_count_distinct) and keep the identical plan shape;
    the explode factor is the window length, not the data size.
    Window-end days are clipped to [d0+6, d1] so every reported day
    has a full trailing week of data behind it — days d0..d0+5 would
    carry windows extending before the data start and under-report
    (ADVICE r2; mirrors the d0+27 clip in ``dau_mau_stickiness``)."""
    e = load(spark, sf_dir, "events")
    ud = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    expanded = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("wday"),
    )
    return (
        expanded.join(F.broadcast(bounds))
        .filter(
            (F.col("wday") >= F.date_add(F.col("d0"), 6))
            & (F.col("wday") <= F.col("d1"))
        )
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("wau_users"))
        .select(F.col("wday").alias("day"), "wau_users")
        .orderBy("day")
    )


_WAU_SQL = """
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
ex AS (
  SELECT user_id,
         unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE AS wday
  FROM ud
)
SELECT wday AS day, count(DISTINCT user_id) AS wau_users
FROM ex, b
WHERE wday BETWEEN d0 + INTERVAL 6 DAY AND d1
GROUP BY wday
ORDER BY day
"""


STICKINESS_WINDOW = 28


def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-28-day-MAU stickiness per day, in exact integer
    per-mille — the engagement-depth metric next to the WAU curve.
    Same explode shape as ``rolling_7d_active_users``: the (user,
    day) pairs shuffle once; DAU is the count at offset 0 and MAU the
    count over the 28 window-end days each pair feeds. Stickiness is
    dau·1000 div mau (integer — a double ratio of two big counts
    would be fine too, but integer per-mille keeps the whole query in
    the no-float-contract class). Only days with a full window behind
    them are emitted (clip to [d0+27, d1])."""
    e = load(spark, sf_dir, "events")
    ud = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    mau = (
        ud.select(
            "user_id",
            F.explode(
                F.expr(
                    f"sequence(day, date_add(day, {STICKINESS_WINDOW - 1}), interval 1 day)"
                )
            ).alias("wday"),
        )
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau["day"] == mau["wday"])
        .join(F.broadcast(bounds))
        .filter(
            (F.col("day") >= F.expr(f"date_add(d0, {STICKINESS_WINDOW - 1})"))
            & (F.col("day") <= F.col("d1"))
        )
        .select(
            "day",
            "dau",
            "mau",
            F.expr("dau * 1000 div mau").alias("stickiness_pm"),
        )
        .orderBy("day")
    )


_STICKINESS_SQL = f"""
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
mau AS (
  SELECT wday, count(DISTINCT user_id) AS mau
  FROM (
    SELECT user_id,
           unnest(generate_series(day, day + INTERVAL {STICKINESS_WINDOW - 1} DAY,
                                  INTERVAL 1 DAY))::DATE AS wday
    FROM ud
  )
  GROUP BY wday
)
SELECT day, dau, mau, dau * 1000 // mau AS stickiness_pm
FROM dau JOIN mau ON day = wday, b
WHERE day >= d0 + {STICKINESS_WINDOW - 1} AND day <= d1
ORDER BY day
"""


def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintile
    scores per customer, rolled up to segment sizes. The standard
    customer-value partitioning (direct-marketing literature; Hughes
    '94), done with the same broadcast-cutpoint machinery as
    ``feature_quantile_buckets``: one per-customer rollup, ONE 1-row
    aggregate computing all 12 quintile cuts (4 per metric,
    ``percentile_disc`` exact), broadcast back, scores as
    1 + Σ(x > cut) integer comparisons (recency reversed — fewer
    days since last order is better). No ntile, no global sort; at
    100 TB the cuts swap to approx_percentile and the plan shape is
    unchanged. Monetary is exact bigint cents; recency is an exact
    integer day diff vs the corpus max order date — every scored
    quantity is integer, so quintile edges are engine-identical."""
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5)
    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("monetary_cents"),
    )
    per = per.join(
        F.broadcast(per.agg(F.max("last_order").alias("ref_date"))),
    ).withColumn("recency_days", F.datediff("ref_date", "last_order"))
    cut_exprs = []
    for m in ("recency_days", "freq", "monetary_cents"):
        for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1):
            cut_exprs.append(
                F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY {m})").alias(
                    f"{m}_c{i}"
                )
            )
    cuts = per.agg(*cut_exprs)

    def score(m: str):
        return sum(
            ((F.col(m) > F.col(f"{m}_c{i}")).cast("int") for i in range(1, 5)),
            F.lit(1),
        )

    scored = per.join(F.broadcast(cuts)).select(
        (F.lit(6) - score("recency_days")).alias("r_score"),
        score("freq").alias("f_score"),
        score("monetary_cents").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


_RFM_SQL = """
WITH per0 AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY 1
),
per AS (
  SELECT *, date_diff('day', CAST(last_order AS DATE),
                      (SELECT CAST(max(last_order) AS DATE) FROM per0)) AS recency_days
  FROM per0
),
cuts AS (
  SELECT
    quantile_disc(recency_days, 0.2) AS recency_days_c1,
    quantile_disc(recency_days, 0.4) AS recency_days_c2,
    quantile_disc(recency_days, 0.6) AS recency_days_c3,
    quantile_disc(recency_days, 0.8) AS recency_days_c4,
    quantile_disc(freq, 0.2) AS freq_c1,
    quantile_disc(freq, 0.4) AS freq_c2,
    quantile_disc(freq, 0.6) AS freq_c3,
    quantile_disc(freq, 0.8) AS freq_c4,
    quantile_disc(monetary_cents, 0.2) AS monetary_cents_c1,
    quantile_disc(monetary_cents, 0.4) AS monetary_cents_c2,
    quantile_disc(monetary_cents, 0.6) AS monetary_cents_c3,
    quantile_disc(monetary_cents, 0.8) AS monetary_cents_c4
  FROM per
),
scored AS (
  SELECT
    6 - (1 + (recency_days > recency_days_c1)::INT + (recency_days > recency_days_c2)::INT
           + (recency_days > recency_days_c3)::INT + (recency_days > recency_days_c4)::INT)
      AS r_score,
    1 + (freq > freq_c1)::INT + (freq > freq_c2)::INT
      + (freq > freq_c3)::INT + (freq > freq_c4)::INT AS f_score,
    1 + (monetary_cents > monetary_cents_c1)::INT + (monetary_cents > monetary_cents_c2)::INT
      + (monetary_cents > monetary_cents_c3)::INT + (monetary_cents > monetary_cents_c4)::INT
      AS m_score
  FROM per, cuts
)
SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_customers
FROM scored
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types over
    per-user histories — the behavior model behind next-event
    prediction and funnel simulation, and the 1-gram companion of
    [[event_path_trigrams]]. Per (from_type, to_type): transition
    count and row-conditional probability P(to|from) in exact integer
    per-mille.

    Scale: one shuffle on user_id for the lag window (the same
    partitioning every sequence query here rides), then a map-side
    combined count on ≤|event_types|² groups; the row totals come
    from a window over that tiny matrix — no second pass over the
    events. Ordering ties break on (ts, event_id), the repo-wide
    sequence convention."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr(
                "1000 * n_transitions"
                " div (sum(n_transitions) OVER (PARTITION BY from_type))"
            ).alias("prob_permille"),
        )
        .orderBy("from_type", "to_type")
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
cells AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       (1000 * n_transitions
        // (sum(n_transitions) OVER (PARTITION BY from_type)))::BIGINT
         AS prob_permille
FROM cells
ORDER BY from_type, to_type
"""


# Gap histogram edges in seconds (log-ish bands); the CASE chain is
# literal integers so both engines bucket identically.
GAP_BANDS = [1, 10, 60, 600, 3600, 86400]


def user_event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the time between a user's consecutive events
    in log-ish second bands — the activity-cadence readout behind
    session-gap threshold choices (the 15-minute sessionization gap
    used by the session queries should sit in a histogram valley).
    Per band: gap count and total seconds. All integers (floor-second
    epochs, literal band edges), cross-engine exact.

    Scale: one user_id window shuffle (the same partitioning every
    sequence query rides), then a map-side-combined count on ≤7
    bands."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).alias("gap_s")
        )
    )
    edges = " ".join(
        f"WHEN gap_s <= {b} THEN {i}" for i, b in enumerate(GAP_BANDS)
    )
    band = F.expr(f"CASE {edges} ELSE {len(GAP_BANDS)} END")
    return (
        gaps.groupBy(band.cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_s").alias("total_gap_seconds"),
        )
        .orderBy("band")
    )


_GAP_HIST_SQL = f"""
WITH gaps AS (
  SELECT epoch_us(ts) // 1000000
         - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             // 1000000 AS gap_s
  FROM events
)
SELECT (CASE {" ".join(f"WHEN gap_s <= {b} THEN {i}" for i, b in enumerate(GAP_BANDS))}
        ELSE {len(GAP_BANDS)} END)::BIGINT AS band,
       count(*)::BIGINT AS n_gaps,
       sum(gap_s)::BIGINT AS total_gap_seconds
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY 1
ORDER BY band
"""


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency distribution of the click→purchase funnel: for every
    converted user (first purchase at-or-after the first click — the
    same frame as funnel_click_to_purchase), seconds from click to
    purchase, summarized as exact order statistics (percentile_disc
    = actual data values, integer seconds — no interpolation, no
    float contract). The companion metric to the funnel's conversion
    COUNT: how long conversion takes, not just whether it happens.

    Scale: two filtered aggregations over the user_id shuffle, a
    1-row summary — the heavy work is the same first-click/first-
    purchase rollup the funnel already pays."""
    e = load(spark, sf_dir, "events")
    first_click = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    latencies = (
        first_click.join(purchases, "user_id")
        .filter(F.col("p_ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("first_p_ts"), F.min("c_ts").alias("c_ts2"))
        .select(
            (F.unix_timestamp("first_p_ts") - F.unix_timestamp("c_ts2")).alias(
                "latency_s"
            )
        )
    )
    return latencies.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("latency_s").alias("min_s"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)")
        .cast("bigint")
        .alias("p50_s"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)")
        .cast("bigint")
        .alias("p90_s"),
        F.max("latency_s").alias("max_s"),
    )


_TIME_TO_CONVERT_SQL = """
WITH fc AS (
  SELECT user_id, min(ts) AS c_ts
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
lat AS (
  SELECT e.user_id,
         epoch_us(min(e.ts)) // 1000000 - epoch_us(min(fc.c_ts)) // 1000000
           AS latency_s
  FROM fc JOIN events e
    ON e.user_id = fc.user_id
   AND e.event_type = 'purchase'
   AND e.ts >= fc.c_ts
  GROUP BY e.user_id
)
SELECT count(*)::BIGINT AS n_converted,
       min(latency_s)::BIGINT AS min_s,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)::BIGINT AS p50_s,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)::BIGINT AS p90_s,
       max(latency_s)::BIGINT AS max_s
FROM lat
"""


def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, the longest run of CONSECUTIVE
    active days and how many separate runs (islands) the activity
    breaks into — the canonical streak analysis engagement teams run
    (and the textbook `day − row_number()` island-key construction:
    consecutive days share a constant difference, any gap starts a
    new key). Complements [[rolling_7d_active_users]] (corpus-level
    rolling count) and [[user_event_gap_histogram]] (gap sizes) with
    the per-user run-length view.

    Plan: distinct (user, day) projection → one user-partitioned
    window for row_number → two bounded groupBys (islands, then
    users). All shuffles key on user_id — at 100 TB one exchange
    feeds all three steps (Catalyst reuses the partitioning), and
    island/user relations are ≪ event count."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = (
        days.withColumn("rn", F.row_number().over(w))
        .select("user_id", F.expr("date_sub(day, rn)").alias("island"), "day")
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("streak_len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("streak_len").alias("max_streak"),
        )
        .orderBy("user_id")
    )


_STREAKS_SQL = """
WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
numbered AS (
  SELECT user_id, day,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM days
),
islands AS (
  SELECT user_id, day - rn::INTEGER AS island, count(*) AS streak_len
  FROM numbered GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(streak_len) AS BIGINT) AS n_active_days,
       count(*)::BIGINT AS n_streaks,
       CAST(max(streak_len) AS BIGINT) AS max_streak
FROM islands
GROUP BY user_id
ORDER BY user_id
"""


AA_FIRST_K = 3  # conversion = a purchase among the user's first K events


def _z_guarded() -> str:
    """Two-proportion z in one shared SQL text: identical doubles from
    identical integers in both engines; degenerate cases (an empty
    arm, pooled rate 0 or 1 — zero variance) report z = 0 instead of
    dividing by zero."""
    pooled = "(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
    return (
        f"CASE WHEN n_a = 0 OR n_b = 0 OR (conv_a + conv_b) = 0 "
        f"OR (conv_a + conv_b) = (n_a + n_b) THEN 0.0 "
        f"ELSE ((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b)) / "
        f"sqrt({pooled} * (1.0 - {pooled}) "
        f"* (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) END"
    )


def ab_test_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A experiment calibration — the pipeline validation every
    experimentation platform runs BEFORE trusting its A/B readouts:
    assign users to two arms by a deterministic hash (no real
    treatment exists, so any detected "lift" is pipeline bias),
    measure conversion (a purchase event) per arm, and report the
    two-proportion z statistic. A healthy A/A shows |z| small; a
    skewed hash, a joiner bug, or exposure dilution shows up here
    before it poisons a real experiment.

    Exactness: assignment is the md5-derived hash (same split
    machinery as [[split_train_val_test]]), all counts integer, and
    the z statistic is ONE double expression over identical integers
    in both engines (int→double exact below 2⁵³, sqrt/divide IEEE) —
    reported in exact integer micros via floor.

    Scale: one groupBy(user) for exposure+conversion, one 2-group
    rollup, a 1-row report. The event-sized shuffle is the user
    rollup every engagement metric shares."""
    from pyspark.sql import Window

    from ..llm.hashing import h32

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    per_user = (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= AA_FIRST_K)
        .groupBy("user_id")
        .agg(F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"))
    )
    arm = (h32(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).alias(
        "arm"
    )
    arms = (
        per_user.select(arm, "converted")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("converted").alias("conv"),
        )
    )
    wide = (
        arms.agg(
            F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"),
        )
    )
    z = _z_guarded()
    return wide.select(
        "n_a",
        "conv_a",
        F.expr("CAST((1000 * conv_a) DIV n_a AS BIGINT)").alias("conv_a_permille"),
        "n_b",
        "conv_b",
        F.expr("CAST((1000 * conv_b) DIV n_b AS BIGINT)").alias("conv_b_permille"),
        F.expr(f"CAST(floor(({z}) * 1000000) AS BIGINT)").alias("z_micro"),
    )


def _aa_oracle() -> str:
    from ..llm.hashing import h32_sql

    arm_hash = h32_sql("'ab:' || user_id::VARCHAR")
    arm = f"{arm_hash} % 2"
    z = _z_guarded()
    return f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
  FROM events
),
per_user AS (
  SELECT user_id, max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM ranked WHERE rk <= {AA_FIRST_K} GROUP BY user_id
),
arms AS (
  SELECT {arm} AS arm, count(*) AS n, sum(converted) AS conv
  FROM per_user GROUP BY 1
),
wide AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS conv_b
  FROM arms
)
SELECT n_a, conv_a, CAST((1000 * conv_a) // n_a AS BIGINT) AS conv_a_permille,
       n_b, conv_b, CAST((1000 * conv_b) // n_b AS BIGINT) AS conv_b_permille,
       CAST(floor(({z}) * 1000000) AS BIGINT) AS z_micro
FROM wide
"""


def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue deltas — the period-over-period BI
    report every revenue dashboard leads with: weekly order revenue
    in exact cents, the previous week's value (lag), and the WoW
    delta in integer per-mille. Weeks are integer epoch-day
    buckets (day_idx DIV 7), immune to locale week-start rules.

    Scale: one map-side-combined weekly rollup (weeks ≪ rows), then
    a single-partition lag window over the weekly relation — tiny by
    construction, the shuffle is the rollup's."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.expr(f"CAST(datediff(o_orderdate, DATE '1992-01-01') DIV 7 AS BIGINT)").alias(
            "week_idx"
        )
    ).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias(
            "revenue_cents"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    from .prefix import one_group

    w = Window.partitionBy(one_group(F.col("week_idx"))).orderBy("week_idx")
    return (
        weekly.withColumn("prev_cents", F.lag("revenue_cents").over(w))
        .select(
            "week_idx",
            "revenue_cents",
            "n_orders",
            F.coalesce("prev_cents", F.lit(0)).alias("prev_cents"),
            F.expr(
                "CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN 0 "
                "ELSE CAST((1000 * (revenue_cents - prev_cents)) DIV prev_cents AS BIGINT) END"
            ).alias("wow_delta_permille"),
        )
        .orderBy("week_idx")
    )


_WOW_SQL = """
WITH weekly AS (
  SELECT CAST(datediff('day', DATE '1992-01-01', o_orderdate) // 7 AS BIGINT) AS week_idx,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT week_idx, revenue_cents, n_orders,
         lag(revenue_cents) OVER (ORDER BY week_idx) AS prev
  FROM weekly
)
SELECT week_idx, revenue_cents, n_orders,
       CAST(coalesce(prev, 0) AS BIGINT) AS prev_cents,
       CAST(CASE WHEN prev IS NULL OR prev = 0 THEN 0
                 ELSE (1000 * (revenue_cents - prev)) // prev END AS BIGINT)
         AS wow_delta_permille
FROM lagged
ORDER BY week_idx
"""


def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) over the hash-assigned A/A
    arms — the NONPARAMETRIC twin of [[ab_test_aa_calibration]]: the
    z test there compares conversion PROPORTIONS; this compares the
    full per-user engagement-value DISTRIBUTIONS without any
    normality assumption (the test every experimentation platform
    reaches for when the metric is heavy-tailed revenue). Statistic
    carried exactly: ranks are midranks over the per-metric-value
    rollup, doubled so ties stay integral (avgrank×2 =
    2·cum_before + n_t + 1), U×2 = ΣnA(t)·avgrank×2(t) − nA(nA+1),
    and the common-language effect size P(A>B)+½P(A=B) in integer
    per-mille. On a healthy A/A the effect sits near 500‰.

    Scale: one user rollup (the shuffle every engagement metric
    pays), one per-VALUE rollup, and the global midrank prefix rides
    the range-partitioned two-pass kernel (``ranged_prefix``) — the
    distinct-value relation is unbounded, so no single-partition
    window. Products widen to DECIMAL(38,0) (rank sums reach n² —
    int64 wraps at ~4e9 users while the oracle's HUGEINT does not)."""
    from ..llm.hashing import h32
    from .prefix import ranged_prefix

    events = load(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")), F.lit(0)
        ).alias("metric")
    )
    arm = (h32(F.concat(F.lit("mw:"), F.col("user_id").cast("string"))) % 2).alias(
        "arm"
    )
    ticks = (
        per_user.select("metric", arm)
        .groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_t"),
            F.sum((F.col("arm") == 0).cast("bigint")).alias("na_t"),
        )
    )
    cum = ranged_prefix(ticks, [F.col("metric")], sum_cols=["n_t"])
    tot = cum.agg(
        F.sum("na_t").alias("n_a"),
        F.sum(F.col("n_t") - F.col("na_t")).alias("n_b"),
        F.sum(
            F.col("na_t").cast("decimal(38,0)")
            * (2 * (F.col("cum_n_t") - F.col("n_t")) + F.col("n_t") + 1)
        ).alias("r_a_x2"),
    )
    return tot.select(
        "n_a",
        "n_b",
        F.expr("CAST(r_a_x2 - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)").alias(
            "u_a_x2"
        ),
        F.expr(
            "CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE"
            " CAST((1000 * (r_a_x2 - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)))"
            " div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) END"
        ).alias("cle_permille"),
    )


def _mw_oracle() -> str:
    from ..llm.hashing import h32_sql

    salted = "'mw:' || user_id::VARCHAR"
    arm = f"{h32_sql(salted)} % 2"
    return f"""
WITH per_user AS (
  SELECT user_id,
         coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0) AS metric
  FROM events GROUP BY user_id
),
ticks AS (
  SELECT metric, count(*)::BIGINT AS n_t,
         sum(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END)::BIGINT AS na_t
  FROM per_user GROUP BY metric
),
cum AS (
  SELECT n_t, na_t,
         CAST(sum(n_t) OVER (ORDER BY metric ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_n_t
  FROM ticks
),
tot AS (
  SELECT CAST(sum(na_t) AS BIGINT) AS n_a,
         CAST(sum(n_t - na_t) AS BIGINT) AS n_b,
         sum(na_t::HUGEINT * (2 * (cum_n_t - n_t) + n_t + 1)) AS r_a_x2
  FROM cum
)
SELECT n_a, n_b,
       CAST(r_a_x2 - n_a::HUGEINT * (n_a + 1) AS BIGINT) AS u_a_x2,
       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
         CAST((1000 * (r_a_x2 - n_a::HUGEINT * (n_a + 1)))
              // (2 * n_a::HUGEINT * n_b) AS BIGINT) END AS cle_permille
FROM tot
"""


def user_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user count and cumulative unique users — the
    acquisition curve every growth dashboard opens with, computed
    exactly (first-seen day per user, NOT approximate distinct):
    [[dau_mau_stickiness]] reads engagement, this reads growth.

    Scale: one user-keyed min() rollup (map-side combined), one
    per-day rollup, then the cumulative sum over the CALENDAR-DAY
    relation — bounded by the corpus' date range, the documented
    ≤K-row case, so the one_group window is sanctioned (an unbounded
    key here would ride ranged_prefix instead)."""
    from pyspark.sql import Window

    from .prefix import one_group

    ev = load(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("day")
    )
    daily = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("n_new_users"))
    w = (
        Window.partitionBy(one_group(F.col("day")))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "day", "n_new_users", F.sum("n_new_users").over(w).alias("cum_users")
    ).orderBy("day")


_ACQUISITION_SQL = """
WITH fd AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS day
  FROM events GROUP BY user_id
),
daily AS (SELECT day, count(*)::BIGINT AS n_new_users FROM fd GROUP BY day)
SELECT day, n_new_users,
       CAST(sum(n_new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM daily
ORDER BY day
"""


LIFETIME_QS = ((1, 4), (2, 4), (3, 4))  # quartiles as (num, den)


def user_lifetime_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles of per-user lifetime (last-seen − first-seen,
    whole days) — the churn planner's number ([[user_acquisition_curve]]
    counts arrivals; this says how long they stay). percentile_disc
    convention (value at rank ⌈q·n⌉), same as the banded-selection
    faces — but here the VALUE DOMAIN is calendar days, so the whole
    (lifetime → user count) histogram is bounded by the corpus' date
    range and the driver walks it directly: no second pass, no
    per-group buffering, one user rollup + one ≤|days|-row collect at
    any corpus size."""
    ev = load(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        (
            F.expr(f"unix_timestamp(max(ts)) div {DAY_SECONDS}")
            - F.expr(f"unix_timestamp(min(ts)) div {DAY_SECONDS}")
        ).alias("lifetime_days")
    )
    hist = sorted(
        (r.lifetime_days, r.n)
        for r in life.groupBy("lifetime_days")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_users = sum(c for _, c in hist)
    if n_users == 0:
        return spark.createDataFrame(
            [(0, None, None, None)],
            "n_users bigint, q1_days bigint, median_days bigint, q3_days bigint",
        )

    def at_rank(k: int) -> int:
        cum = 0
        for v, c in hist:
            cum += c
            if cum >= k:
                return v
        raise AssertionError("rank beyond histogram mass")

    qs = [at_rank(-(-num * n_users // den)) for num, den in LIFETIME_QS]
    return spark.createDataFrame(
        [(n_users, qs[0], qs[1], qs[2])],
        "n_users bigint, q1_days bigint, median_days bigint, q3_days bigint",
    )


_LIFETIME_SQL = f"""
WITH life AS (
  SELECT user_id,
         epoch_us(max(ts)) // 1000000 // {DAY_SECONDS}
           - epoch_us(min(ts)) // 1000000 // {DAY_SECONDS} AS lifetime_days
  FROM events GROUP BY user_id
)
SELECT count(*)::BIGINT AS n_users,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY lifetime_days)::BIGINT AS q1_days,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY lifetime_days)::BIGINT AS median_days,
       percentile_disc(0.75) WITHIN GROUP (ORDER BY lifetime_days)::BIGINT AS q3_days
FROM life
"""


SRM_CHI2_MICRO = 3_841_459  # chi-square(1) critical value at p=0.05, x1e6


def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the hash-assigned A/B
    arms — the FIRST thing an experimentation platform checks before
    reading any metric: under a 50/50 design, χ²(1) =
    (n_a − n_b)²/(n_a + n_b); a significant χ² means the assignment
    or logging pipeline dropped users asymmetrically and every
    downstream readout ([[ab_test_aa_calibration]],
    [[mann_whitney_u_test]]) is void. Carried as exact integer
    micros (the (n_a−n_b)² numerator is integer; ×1e6 div n), with
    the 3.84 critical value as an integer threshold — no float path
    at all.

    Scale: one user rollup + a 2-row aggregate."""
    from ..llm.hashing import h32

    events = load(spark, sf_dir, "events")
    arm = (h32(F.concat(F.lit("mw:"), F.col("user_id").cast("string"))) % 2).alias(
        "arm"
    )
    users = events.select("user_id").distinct().select(arm)
    wide = users.agg(
        F.sum((F.col("arm") == 0).cast("bigint")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("bigint")).alias("n_b"),
    )
    return wide.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST((1000000 * CAST((n_a - n_b) AS DECIMAL(38,0)) * (n_a - n_b))"
            " div (n_a + n_b) AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr(
            "CAST((1000000 * CAST((n_a - n_b) AS DECIMAL(38,0)) * (n_a - n_b))"
            f" div (n_a + n_b) > {SRM_CHI2_MICRO} AS BOOLEAN)"
        ).alias("srm_detected"),
    )


def _srm_oracle() -> str:
    from ..llm.hashing import h32_sql

    salted = "'mw:' || user_id::VARCHAR"
    arm = f"{h32_sql(salted)} % 2"
    return f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
wide AS (
  SELECT sum(CASE WHEN {arm} = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN {arm} = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
  FROM users
)
SELECT n_a, n_b,
       CAST((1000000 * (n_a - n_b)::HUGEINT * (n_a - n_b)) // (n_a + n_b)
            AS BIGINT) AS chi2_micro,
       (1000000 * (n_a - n_b)::HUGEINT * (n_a - n_b)) // (n_a + n_b)
         > {SRM_CHI2_MICRO} AS srm_detected
FROM wide
"""


def repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles of the customer inter-order gap (days between
    consecutive orders) — the replenishment-cycle number a retention
    team sets campaign cadence by, and the lifecycle twin of
    [[user_lifetime_quartiles]] (events say how long users stay;
    this says how often buyers come back). percentile_disc
    convention (rank ⌈q·n⌉).

    Scale: consecutive gaps come from a customer-partitioned lag
    window (keyed, never global); the gap VALUE domain is calendar
    days, so the (gap → count) histogram is bounded by the date
    range and the driver walks it directly — one rollup, one ≤|days|
    collect, no second pass."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .withColumn("prev_d", F.lag("d").over(w))
        .filter(F.col("prev_d").isNotNull())
        .select(F.datediff("d", "prev_d").cast("long").alias("gap_days"))
    )
    hist = sorted(
        (r.gap_days, r.n)
        for r in gaps.groupBy("gap_days").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n = sum(c for _, c in hist)
    if n == 0:
        return spark.createDataFrame(
            [(0, None, None, None)],
            "n_gaps bigint, q1_days bigint, median_days bigint, q3_days bigint",
        )

    def at_rank(k: int) -> int:
        cum = 0
        for v, c in hist:
            cum += c
            if cum >= k:
                return v
        raise AssertionError("rank beyond histogram mass")

    qs = [at_rank(-(-num * n // den)) for num, den in LIFETIME_QS]
    return spark.createDataFrame(
        [(n, qs[0], qs[1], qs[2])],
        "n_gaps bigint, q1_days bigint, median_days bigint, q3_days bigint",
    )


_REPEAT_SQL = """
WITH gaps AS (
  SELECT datediff('day', lag(o_orderdate::DATE) OVER w, o_orderdate::DATE)::BIGINT
           AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT count(*)::BIGINT AS n_gaps,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY gap_days)::BIGINT AS q1_days,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days)::BIGINT AS median_days,
       percentile_disc(0.75) WITHIN GROUP (ORDER BY gap_days)::BIGINT AS q3_days
FROM gaps WHERE gap_days IS NOT NULL
"""


QUERIES = (
    (user_activity_streaks, _STREAKS_SQL),
    (ab_test_aa_calibration, _aa_oracle()),
    (mann_whitney_u_test, _mw_oracle()),
    (ab_srm_check, _srm_oracle()),
    (repeat_purchase_intervals, _REPEAT_SQL),
    (user_acquisition_curve, _ACQUISITION_SQL),
    (user_lifetime_quartiles, _LIFETIME_SQL),
    (weekly_revenue_wow, _WOW_SQL),
    (cohort_retention, _COHORT_SQL),
    (event_markov_transitions, _MARKOV_SQL),
    (user_event_gap_histogram, _GAP_HIST_SQL),
    (funnel_time_to_convert, _TIME_TO_CONVERT_SQL),
    (event_path_trigrams, _PATHS_SQL),
    (rolling_7d_active_users, _WAU_SQL),
    (rfm_customer_segments, _RFM_SQL),
    (dau_mau_stickiness, _STICKINESS_SQL),
)
