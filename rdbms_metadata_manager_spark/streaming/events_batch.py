"""Time-window aggregations over ``events`` — the batch-semantics
face of the streaming surface.

``window()`` and ``session_window()`` are the SAME expressions
Structured Streaming uses behind ``withWatermark``; running them in
batch mode gives the driver an oracle-checkable result.

Oracles: tumbling window ↔ date_trunc; session window ↔ the classic
gaps-and-islands (lag + running flag-sum) construction, with
session_end = last event + gap to match Spark's session_window
definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load

SESSION_GAP = "15 minutes"


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type. In batch this is a
    plain groupBy; in streaming the identical expression maintains
    incremental state per (window, type)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


_TUMBLING_SQL = """
SELECT date_trunc('hour', ts)                     AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR   AS window_end,
       event_type,
       count(*)                                   AS n_events,
       round(sum(value), 4)                       AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 15-minute inactivity gap.
    session_window.end = last event + gap (Spark's definition,
    replicated in the oracle)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 15 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts)                          AS session_start,
       max(ts) + INTERVAL 15 MINUTE     AS session_end,
       count(*)                         AS n_events,
       round(sum(value), 4)             AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def events_sliding_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2
    windows. Oracle: explode the two candidate window starts."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
        .orderBy("window_start")
    )


_SLIDING_SQL = """
WITH slid AS (
  SELECT ts,
         -- ::TIMESTAMP: to_timestamp returns TIMESTAMPTZ in DuckDB
         unnest([to_timestamp(floor(epoch(ts) / 300) * 300)::TIMESTAMP,
                 to_timestamp(floor(epoch(ts) / 300) * 300 - 300)::TIMESTAMP]) AS window_start
  FROM events
)
SELECT window_start, window_start + INTERVAL 10 MINUTE AS window_end,
       count(*) AS n_events
FROM slid
WHERE ts >= window_start AND ts < window_start + INTERVAL 10 MINUTE
GROUP BY window_start
ORDER BY window_start
"""


def session_bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by entry event type — the landing-page engagement
    report: sessions (15-min inactivity gap, same ``session_window``
    the streaming face uses) grouped by their FIRST event's type,
    with the single-event-session share in integer per-mille. The
    session's entry event is ``min(struct(ts, event_id, event_type))``
    — lexicographic struct min, so simultaneous-timestamp ties break
    on event_id deterministically in both engines (the oracle uses a
    row_number over the same (ts, event_id) order). Scale: the
    session_window aggregate is one user-keyed shuffle (state bounded
    by the gap in streaming); the bounce rollup runs on sessions, not
    events."""
    e = load(spark, sf_dir, "events")
    sess = e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.struct("ts", "event_id", "event_type")).alias("first"),
    )
    per = sess.select(
        F.col("first.event_type").alias("entry_type"),
        (F.col("n_events") == 1).cast("bigint").alias("bounced"),
    )
    return (
        per.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("bounced").alias("n_bounces"),
        )
        .withColumn("bounce_pm", F.expr("n_bounces * 1000 div n_sessions"))
        .orderBy("entry_type")
    )


_BOUNCE_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 15 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
firsts AS (
  SELECT entry_type, n_events FROM (
    SELECT count(*) OVER (PARTITION BY user_id, session_id) AS n_events,
           first_value(event_type) OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts, event_id) AS entry_type,
           row_number() OVER (PARTITION BY user_id, session_id
                              ORDER BY ts, event_id) AS rn
    FROM sessions
  )
  WHERE rn = 1
)
SELECT entry_type, count(*)::BIGINT AS n_sessions,
       sum((n_events = 1)::BIGINT)::BIGINT AS n_bounces,
       CAST(sum((n_events = 1)::BIGINT) * 1000 // count(*) AS BIGINT) AS bounce_pm
FROM firsts
GROUP BY entry_type
ORDER BY entry_type
"""


def session_pattern_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over sessions — the MATCH_RECOGNIZE
    use case (Spark has no MATCH_RECOGNIZE; the pattern compiles to a
    per-session ordered type string + LIKE predicates, all codegen):
    a session is ABANDONED when no purchase occurs after its LAST
    click ("the final add-to-cart was never checked out" — a
    re-click after an earlier purchase re-abandons the session). The
    pattern is evaluated on (ts, event_id) struct extrema, not the
    sequence string, so a LIKE-style first-click approximation can't
    misclassify click→purchase→click; the ordered type string is
    still built for the entry-type rollup, deterministic under the
    same (ts, event_id) tie-break.

    Scale: one session_window shuffle on user_id (same state bound as
    the streaming face), then per-session strings — the report rolls
    up sessions, not events. Sessions with 10³ events make a 10⁴-char
    string, not a blow-up."""
    e = load(spark, sf_dir, "events")
    sess = e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id").agg(
        F.array_join(
            F.expr("transform(sort_array(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
            ">",
        ).alias("seq"),
        F.max(
            F.when(F.col("event_type") == "click", F.struct("ts", "event_id"))
        ).alias("last_click"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.struct("ts", "event_id"))
        ).alias("last_purchase"),
    )
    flags = sess.select(
        F.split("seq", ">").getItem(0).alias("entry_type"),
        F.col("last_click").isNotNull().cast("bigint").alias("clicked"),
        (
            F.col("last_click").isNotNull()
            & (
                F.col("last_purchase").isNull()
                | (F.col("last_purchase") < F.col("last_click"))
            )
        )
        .cast("bigint")
        .alias("abandoned"),
    )
    return (
        flags.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("clicked").alias("n_clicked"),
            F.sum("abandoned").alias("n_abandoned"),
        )
        .withColumn(
            "abandoned_pm",
            F.expr("CASE WHEN n_clicked = 0 THEN NULL ELSE n_abandoned * 1000 div n_clicked END"),
        )
        .orderBy("entry_type")
    )


_PATTERN_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 15 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
seqs AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
         max(CASE WHEN event_type = 'click' THEN row(ts, event_id) END) AS lc,
         max(CASE WHEN event_type = 'purchase' THEN row(ts, event_id) END) AS lp
  FROM sessions
  GROUP BY user_id, session_id
),
flags AS (
  SELECT split_part(seq, '>', 1) AS entry_type,
         (lc IS NOT NULL)::BIGINT AS clicked,
         (lc IS NOT NULL AND (lp IS NULL OR lp < lc))::BIGINT AS abandoned
  FROM seqs
)
SELECT entry_type,
       count(*)::BIGINT AS n_sessions,
       sum(clicked)::BIGINT AS n_clicked,
       sum(abandoned)::BIGINT AS n_abandoned,
       CAST(CASE WHEN sum(clicked) = 0 THEN NULL
            ELSE sum(abandoned) * 1000 // sum(clicked) END AS BIGINT) AS abandoned_pm
FROM flags
GROUP BY entry_type
ORDER BY entry_type
"""


def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency by sweep-line — the capacity-planning
    number ("how many users were active AT ONCE at the worst moment")
    that naive per-bucket rollups understate whenever a session spans
    a bucket boundary. Classic interval algorithm: every session
    (15-min-gap ``session_window``, the module convention) emits a
    +1 at its start and a −1 at its end (end EXCLUSIVE: at equal
    timestamps the −1 sorts first, so back-to-back sessions never
    double-count), and the peak is the max of the running sum over
    the (t, d, user_id) total order. Reports the session count, the
    peak, and the first instant it is reached.

    Scale: the delta relation is 2×|sessions| rows — unbounded — so
    the running sum rides the range-partitioned two-pass prefix
    kernel (``ranged_prefix``), never a single-partition window; the
    peak/argmin reductions are plain aggregates. All integers (epoch
    micros, ±1 counts) — zero cross-engine drift surface."""
    from ..queries.prefix import ranged_prefix

    e = load(spark, sf_dir, "events")
    sess = (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("s_us"),
            F.unix_micros("w.end").alias("e_us"),
        )
    )
    # ONE evaluation of the session rollup: explode each session into
    # its ±1 endpoint rows instead of unioning two selects of ``sess``
    # (the union evaluated the session_window aggregate twice), and
    # ONE aggregate over the prefix-summed relation instead of three
    # stitched ones (peak, argmin-t-at-peak, n_sessions): every
    # session contributes exactly two delta rows so n_sessions is
    # count/2, and max(struct(cum, -t)) is lexicographic — peak first,
    # then the EARLIEST instant it is reached (both exact integers).
    # Guide §1.2: same bytes shuffled, 3 fewer passes over the deltas.
    deltas = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_us").alias("t"), F.lit(1).cast("bigint").alias("d")
                ),
                F.struct(
                    F.col("e_us").alias("t"), F.lit(-1).cast("bigint").alias("d")
                ),
            )
        ).alias("p"),
        "user_id",
    ).select(F.col("p.t").alias("t"), F.col("p.d").alias("d"), "user_id")
    cum = ranged_prefix(
        deltas, [F.col("t"), F.col("d"), F.col("user_id")], sum_cols=["d"]
    )
    return cum.agg(
        F.expr("count(1) div 2").cast("bigint").alias("n_sessions"),
        F.max(F.struct(F.col("cum_d").alias("c"), (-F.col("t")).alias("negt"))).alias(
            "_m"
        ),
    ).select(
        "n_sessions",
        F.col("_m.c").alias("peak_concurrent"),
        F.timestamp_micros(-F.col("_m.negt")).alias("peak_at"),
    )


_CONCURRENCY_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 15 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
iv AS (
  SELECT user_id,
         epoch_us(min(ts)) AS s_us,
         epoch_us(max(ts) + INTERVAL 15 MINUTE) AS e_us
  FROM sessions GROUP BY user_id, session_id
),
deltas AS (
  SELECT s_us AS t, 1 AS d, user_id FROM iv
  UNION ALL
  SELECT e_us, -1, user_id FROM iv
),
cum AS (
  SELECT t,
         CAST(sum(d) OVER (ORDER BY t, d, user_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM deltas
)
SELECT (SELECT count(*) FROM iv)::BIGINT AS n_sessions,
       (SELECT max(c) FROM cum)::BIGINT AS peak_concurrent,
       make_timestamp((SELECT min(t) FROM cum
                       WHERE c = (SELECT max(c) FROM cum))) AS peak_at
"""


WM_DELAYS_S = (0, 3600, 21600, 86400)  # candidate watermark delays
WM_SHARDS = 32  # arrival shards (the kafka-partition model)
WM_JITTER_S = 7200  # synthetic delivery skew bound (2 h)


def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much data would each candidate watermark delay DROP? The
    sizing study a team runs BEFORE picking the ``withWatermark``
    horizon for the streaming faces (the state-vs-completeness
    trade, stream_dedup's 36500-day choice):
    replay the event log in arrival order and count rows whose event
    time falls behind (running max event time − delay) — exactly the
    late-row predicate Structured Streaming applies.

    Arrival model: per-shard arrival order (``user_id % 32`` plays
    the Kafka partition) with the watermark tracked per shard —
    Spark's watermark is likewise computed from per-partition maxima.
    The shipped events table carries no broker ingest timestamp (and
    is generated already time-ordered, under which NOTHING is ever
    late and the audit is vacuous), so arrival time is synthesized as
    event time + md5-jitter ≤ WM_JITTER_S — the deterministic
    delivery-skew model (in production, substitute the broker's
    ingest timestamp column). The running max EXCLUDES the current
    row (a watermark only advances at batch boundaries, so a row
    never closes the gate on itself).

    Exactness: pure integer epoch-seconds comparisons; the jitter is
    the repo's md5 hash lever (identical in both engines); shares are
    truncating per-mille divisions. No floats anywhere.

    Scale: ONE ranked window per shard (partitioned — never a global
    order), one crossJoin against a 4-row delay spine, one map-side
    combined groupBy. At 100 TB the window shuffles on the same
    shard key a real ingest is already partitioned by."""
    from pyspark.sql import Window

    from ..llm.hashing import h32

    jitter = h32(F.concat(F.lit("arr:"), F.col("event_id").cast("string"))) % WM_JITTER_S
    ev = load(spark, sf_dir, "events").select(
        (F.col("user_id") % WM_SHARDS).alias("shard"),
        F.col("event_id"),
        F.expr("unix_timestamp(ts)").alias("tsec"),
    ).withColumn("atime", F.col("tsec") + jitter)
    w = (
        Window.partitionBy("shard")
        .orderBy("atime", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn("runmax", F.max("tsec").over(w))
    spine = spark.createDataFrame(
        [(d,) for d in WM_DELAYS_S], "delay_s bigint"
    )
    return (
        flagged.crossJoin(F.broadcast(spine))
        .groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_if(
                F.col("runmax").isNotNull() & (F.col("tsec") < F.col("runmax") - F.col("delay_s"))
            )
            .cast("bigint")
            .alias("n_late"),
        )
        .select(
            "delay_s",
            "n_events",
            "n_late",
            F.expr("(1000 * n_late) div n_events").cast("bigint").alias("late_pm"),
        )
        .orderBy("delay_s")
    )


def _wm_audit_sql() -> str:
    from ..llm.hashing import h32_sql

    jitter = f"({h32_sql(chr(39) + 'arr:' + chr(39) + ' || event_id::VARCHAR')} % {WM_JITTER_S})"
    return _WM_AUDIT_TEMPLATE.replace("__JITTER__", jitter)


_WM_AUDIT_TEMPLATE = f"""
WITH ev AS (
  SELECT user_id % {WM_SHARDS} AS shard, event_id,
         epoch_us(ts) // 1000000 AS tsec,
         epoch_us(ts) // 1000000 + __JITTER__ AS atime
  FROM events
),
flagged AS (
  SELECT shard, tsec,
         max(tsec) OVER (PARTITION BY shard ORDER BY atime, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
  FROM ev
)
SELECT delay_s::BIGINT AS delay_s,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN runmax IS NOT NULL AND tsec < runmax - delay_s
                THEN 1 ELSE 0 END)::BIGINT AS n_late,
       ((1000 * sum(CASE WHEN runmax IS NOT NULL AND tsec < runmax - delay_s
                         THEN 1 ELSE 0 END)) // count(*))::BIGINT AS late_pm
FROM flagged, (VALUES {", ".join(f"({d})" for d in WM_DELAYS_S)}) AS t(delay_s)
GROUP BY delay_s
ORDER BY delay_s
"""


QUERIES = (
    (watermark_lateness_audit, _wm_audit_sql()),
    (events_tumbling_hourly, _TUMBLING_SQL),
    (session_pattern_abandonment, _PATTERN_SQL),
    (events_session_stats, _SESSION_SQL),
    (events_sliding_10min, _SLIDING_SQL),
    (session_bounce_stats, _BOUNCE_SQL),
    (max_concurrent_sessions, _CONCURRENCY_SQL),
)
