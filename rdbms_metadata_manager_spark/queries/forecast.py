"""Forecasting baseline + backtest over the ``events`` series.

[beyond-reference] the capacity-planning face of the events surface:
a seasonal-naive forecast (predict day d with the observation from
d-7 — the baseline every real forecasting system must beat) and its
rolling backtest, per event type. All integer day buckets and counts;
the error metric is integer absolute error, so both engines agree
bit-for-bit with no float contract at all.

Shape: one daily rollup, then a self-join of the rollup on
(event_type, day-7). The rollup is tiny (days x types), so the
self-join is broadcast; at 100 TB the heavy work is the single
map-side-combined daily aggregate — the forecasting math never
touches raw events again. A lag(7) window over the rollup would be
equivalent; the join form keeps gaps honest (a missing day-7 row
yields no prediction instead of silently lagging to an older day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import DAY_SECONDS, load, tables
from .prefix import one_group

SEASON_DAYS = 7


def forecast_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): actual daily count, seasonal-naive
    prediction (count at day-7), absolute error. Only days whose
    day-7 exists are scored — the honest backtest frame."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / DAY_SECONDS).alias("day_idx"),
    ).agg(F.count("*").alias("n_events"))
    pred = daily.select(
        "event_type",
        (F.col("day_idx") + SEASON_DAYS).alias("day_idx"),
        F.col("n_events").alias("predicted"),
    )
    return (
        daily.join(F.broadcast(pred), ["event_type", "day_idx"])
        .select(
            "event_type",
            "day_idx",
            F.col("n_events").alias("actual"),
            "predicted",
            F.abs(F.col("n_events") - F.col("predicted")).alias("abs_error"),
        )
        .orderBy("event_type", "day_idx")
    )


_FORECAST_SQL = f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 // {DAY_SECONDS} AS day_idx,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.day_idx,
       a.n_events AS actual,
       p.n_events AS predicted,
       abs(a.n_events - p.n_events) AS abs_error
FROM daily a
JOIN daily p
  ON a.event_type = p.event_type AND a.day_idx = p.day_idx + {SEASON_DAYS}
ORDER BY a.event_type, a.day_idx
"""


def ewma_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event rate
    per type (α = ½) — the standard capacity-planning smoother, and a
    genuinely SEQUENTIAL fold no window frame expresses (each state
    depends on the previous one non-linearly scaled).

    Execution shape: the sequential part runs AFTER the daily rollup,
    so the per-key series is days-long (tiny) regardless of raw
    volume; collect_list over the rollup costs what the rollup
    shuffle already paid. The fold itself is an ordered in-row
    ``aggregate`` — s₁ = x₁, sₜ = (sₜ₋₁ + xₜ)/2 — mirrored by
    DuckDB's left-to-right ``list_reduce``: identical IEEE op
    sequence on both engines, so the doubles hash-match bit-for-bit
    (α = ½ keeps every step a dyadic halving; no libm, no
    aggregation-order hazard)."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / DAY_SECONDS).alias("day_idx"),
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day_idx", "n"))),
            lambda s: s["n"].cast("double"),
        ).alias("xs"),
        F.count("*").alias("n_days"),
        F.max("day_idx").alias("last_day_idx"),
    )
    return (
        series.select(
            "event_type",
            "n_days",
            "last_day_idx",
            F.element_at("xs", -1).cast("bigint").alias("last_count"),
            F.aggregate(
                F.expr("slice(xs, 2, size(xs))"),
                F.element_at("xs", 1),
                lambda acc, x: (acc + x) / F.lit(2.0),
            ).alias("ewma"),
        )
        .orderBy("event_type")
    )


_EWMA_SQL = f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 // {DAY_SECONDS} AS day_idx,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type,
         list(n::DOUBLE ORDER BY day_idx) AS xs,
         count(*)::BIGINT AS n_days,
         max(day_idx) AS last_day_idx
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days, last_day_idx,
       xs[-1]::BIGINT AS last_count,
       list_reduce(xs, (acc, x) -> (acc + x) / 2) AS ewma
FROM series
ORDER BY event_type
"""


TREND_EPOCH = "1995-01-01"


def ols_trend_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment revenue trend via closed-form OLS over sufficient
    statistics — the distributed-regression shape: a linear fit needs
    only (n, Σx, Σy, Σxy, Σx², Σy²), all map-side-combinable in ONE
    aggregate pass, so the "model fit" costs exactly one shuffle of
    six numbers per group no matter the corpus size. The textbook
    reason sufficient statistics matter at 100 TB: no gradient loop,
    no driver-side math over rows.

    Exactness contract: x = day index (integer), y = daily revenue in
    whole kilodollars (cents summed as int64, then integer-divided) —
    both exact; slope numerator n·Σxy − Σx·Σy and denominator
    n·Σx² − (Σx)² are int64-safe at bench scale but are CAST to
    DECIMAL(38,0)/HUGEINT before the final ×1000 products so the same
    query survives sf100 revenue magnitudes; slope and R² floor to
    integer $/day and per-mille. IEEE float appears only in the
    per-order cents rounding, identical in both engines."""
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    daily = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy(
            "c_mktsegment",
            F.expr(f"datediff(CAST(o_orderdate AS DATE), DATE '{TREND_EPOCH}')").alias("x"),
        )
        .agg(
            F.expr(
                "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) div 100000"
            ).alias("y")
        )
    )
    return _ols_fit(daily)


def _ols_fit(daily: DataFrame) -> DataFrame:
    """Closed-form OLS from sufficient statistics over any
    (c_mktsegment, x, y) relation (testable on hand-built series)."""
    stats = daily.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return stats.select(
        "c_mktsegment",
        F.col("n").alias("n_days"),
        F.expr(
            "(1000 * CAST(n * sxy - sx * sy AS DECIMAL(38,0)))"
            " div nullif(CAST(n * sxx - sx * sx AS DECIMAL(38,0)), 0)"
        ).alias("slope_usd_per_day"),
        F.expr(
            "(1000 * CAST(n * sxy - sx * sy AS DECIMAL(38,0))"
            " * CAST(n * sxy - sx * sy AS DECIMAL(38,0)))"
            " div nullif(CAST(n * sxx - sx * sx AS DECIMAL(38,0))"
            " * CAST(n * syy - sy * sy AS DECIMAL(38,0)), 0)"
        ).alias("r2_permille"),
    ).orderBy("c_mktsegment")


_OLS_SQL = f"""
WITH daily AS (
  SELECT c_mktsegment,
         date_diff('day', DATE '{TREND_EPOCH}', CAST(o_orderdate AS DATE)) AS x,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 100000 AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
stats AS (
  SELECT c_mktsegment,
         count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         sum(y * y)::BIGINT AS syy
  FROM daily GROUP BY 1
)
SELECT c_mktsegment,
       n AS n_days,
       ((1000 * CAST(n * sxy - sx * sy AS HUGEINT))
        // nullif(CAST(n * sxx - sx * sx AS HUGEINT), 0))::BIGINT AS slope_usd_per_day,
       ((1000 * CAST(n * sxy - sx * sy AS HUGEINT)
         * CAST(n * sxy - sx * sy AS HUGEINT))
        // nullif(CAST(n * sxx - sx * sx AS HUGEINT)
               * CAST(n * syy - sy * sy AS HUGEINT), 0))::BIGINT AS r2_permille
FROM stats
ORDER BY c_mktsegment
"""


MAX_LAG = 7


def autocorr_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the global daily event count at
    lags 1..7 — the seasonality detector that tells a capacity planner
    whether the weekly cycle the seasonal-naive forecast assumes
    actually exists. [beyond-reference] time-series face.

    Semantics: the series is the ZERO-FILLED contiguous daily count
    spine from the first to the last observed day (an ACF over only
    observed days would silently treat gaps as adjacent). For each lag
    k the Pearson correlation r_k is carried as exact integers via
    sufficient statistics — num = n·Σxy − Σx·Σy and the two variance
    legs — and reported as sign(r)·⌊1000·num²/(den_x·den_y)⌋, the
    signed r² in per-mille, so both engines agree bit-for-bit (no
    sqrt, no float accumulation).

    Scale shape: ONE map-side-combined daily rollup touches the raw
    events; everything after runs on the days-long rollup (the spine
    join and the 7-lag self-join are O(days·lags) — thousands of rows
    no matter the corpus size). The min/max bounds ride a 1-row
    broadcast, the sanctioned scalar pattern."""
    return _acf_report(_daily_series(spark, sf_dir))


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled contiguous (day_idx, x) daily event-count series.

    SINGLE-LINEAGE gap fill: each observed day emits the run of days
    up to (not including) the next observed day via one lead() window
    — one events scan total, where the min/max-bounds + spine-join
    form re-derives the rollup per branch (2-3 scans of the 100 TB
    table for the same tiny result). The window is a single ≤days-long
    partition — bounded by calendar time, not corpus size."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_timestamp("ts") / DAY_SECONDS).alias("day_idx")
    ).agg(F.count(F.lit(1)).alias("n"))
    nxt = F.lead("day_idx").over(
        Window.partitionBy(one_group(F.col("day_idx"))).orderBy("day_idx")
    )
    filled = daily.select("day_idx", "n", nxt.alias("nxt")).select(
        F.col("day_idx").alias("obs_day"),
        "n",
        F.explode(F.expr("sequence(day_idx, coalesce(nxt - 1, day_idx))")).alias(
            "day_idx"
        ),
    )
    return filled.select(
        "day_idx",
        F.when(F.col("day_idx") == F.col("obs_day"), F.col("n"))
        .otherwise(F.lit(0))
        .alias("x"),
    )


def _acf_report(series: DataFrame) -> DataFrame:
    """Signed-r²-per-mille ACF at lags 1..MAX_LAG over any contiguous
    (day_idx, x) integer series (testable on hand-built series).

    Lag pairs come from MAX_LAG lead() columns over ONE window sort
    rather than a self-join — the series is one lineage, so the
    upstream events rollup runs once, and the window partition is
    days-long (calendar-bounded) at any corpus size. lead() past the
    series end is NULL; dropping those rows reproduces the join
    semantics exactly because the series is contiguous."""
    w = Window.partitionBy(one_group(F.col("day_idx"))).orderBy("day_idx")
    leads = series.select(
        F.col("x").alias("xl"),
        F.array(*[F.lead("x", k).over(w) for k in range(1, MAX_LAG + 1)]).alias("xs"),
    )
    pairs = leads.select(
        "xl", F.posexplode("xs").alias("pos", "xr")
    ).select((F.col("pos") + 1).alias("lag"), "xl", "xr").filter(
        F.col("xr").isNotNull()
    )
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xl").alias("sx"),
        F.sum("xr").alias("sy"),
        F.sum(F.col("xl") * F.col("xr")).alias("sxy"),
        F.sum(F.col("xl") * F.col("xl")).alias("sxx"),
        F.sum(F.col("xr") * F.col("xr")).alias("syy"),
    )
    return stats.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.expr(
            "CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END"
            " * ((1000 * CAST(n * sxy - sx * sy AS DECIMAL(38,0))"
            "          * CAST(n * sxy - sx * sy AS DECIMAL(38,0)))"
            "    div nullif(CAST(n * sxx - sx * sx AS DECIMAL(38,0))"
            "             * CAST(n * syy - sy * sy AS DECIMAL(38,0)), 0))"
        ).alias("acf_r2_permille_signed"),
    ).orderBy("lag")


_SERIES_CTES = f"""daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS day_idx,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1
),
bounds AS (SELECT min(day_idx) AS d0, max(day_idx) AS d1 FROM daily),
spine AS (
  SELECT r.day_idx FROM bounds, UNNEST(generate_series(d0, d1)) AS r(day_idx)
),
series AS (
  SELECT s.day_idx, coalesce(d.n, 0) AS x
  FROM spine s LEFT JOIN daily d ON s.day_idx = d.day_idx
)"""

_ACF_SQL = f"""
WITH {_SERIES_CTES},
pairs AS (
  SELECT k.lag, l.x AS xl, r.x AS xr
  FROM series l,
       UNNEST(generate_series(1, {MAX_LAG})) AS k(lag),
       series r
  WHERE r.day_idx = l.day_idx + k.lag
),
stats AS (
  SELECT lag,
         count(*)::BIGINT AS n,
         sum(xl)::BIGINT AS sx, sum(xr)::BIGINT AS sy,
         sum(xl * xr)::BIGINT AS sxy,
         sum(xl * xl)::BIGINT AS sxx,
         sum(xr * xr)::BIGINT AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       n AS n_pairs,
       (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END
        * ((1000 * CAST(n * sxy - sx * sy AS HUGEINT)
                 * CAST(n * sxy - sx * sy AS HUGEINT))
           // nullif(CAST(n * sxx - sx * sx AS HUGEINT)
                   * CAST(n * syy - sy * sy AS HUGEINT), 0)))::BIGINT
         AS acf_r2_permille_signed
FROM stats
ORDER BY lag
"""


def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal indices of the daily event count — the
    decomposition that justifies (or falsifies) the lag the
    seasonal-naive forecast uses, companion to
    [[autocorr_daily_events]]. [beyond-reference] time-series face.

    phase = day_idx mod 7 (an epoch-anchored 7-phase, deliberately
    NOT the calendar weekday — the series is an abstract integer
    spine and the index only needs a consistent phase alignment).
    seasonal index = mean(phase) / mean(overall) carried as the exact
    integer ⌊1000·Σx_phase·n_days_total / (n_days_phase·Σx_total)⌋
    (per-mille; 1000 = an average day). Zero-filled spine as in the
    ACF, so missing days count as 0 rather than being skipped.

    Scale shape: ONE daily rollup touches the raw events (the totals
    come from a global window over the ≤7-row phase table — same
    lineage, not a second scan; a 7-row single-partition window is
    free at any corpus size). The decimal(38,0) casts keep the
    cross-multiplication exact at any corpus size (DuckDB side
    mirrors with HUGEINT)."""
    series = _daily_series(spark, sf_dir)
    per_phase = series.groupBy(F.pmod("day_idx", F.lit(7)).alias("phase")).agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("x").alias("total_events")
    )
    return per_phase.select(
        "phase",
        "n_days",
        "total_events",
        # PARTITION BY pmod(hash(phase), 1): constant-0 but
        # non-foldable, so the ≤7-row single-group window stays quiet
        # (a literal "PARTITION BY 1" is folded away and WindowExec
        # warns as if this were an unbounded global sort)
        F.expr(
            "(1000 * CAST(total_events AS DECIMAL(38,0))"
            " * (sum(n_days) OVER (PARTITION BY pmod(hash(phase), 1))))"
            " div nullif(CAST(n_days AS DECIMAL(38,0))"
            " * (sum(total_events) OVER (PARTITION BY pmod(hash(phase), 1))), 0)"
        )
        .cast("bigint")
        .alias("seasonal_permille"),
    ).orderBy("phase")


_SEASONAL_SQL = f"""
WITH {_SERIES_CTES},
per_phase AS (
  -- floor-mod, matching Spark's pmod: a pre-1970 timestamp gives a
  -- NEGATIVE day_idx, where plain % would yield -6..0 here but 0..6
  -- in Spark
  SELECT ((day_idx % 7) + 7) % 7 AS phase,
         count(*)::BIGINT AS n_days,
         sum(x)::BIGINT AS total_events
  FROM series GROUP BY 1
)
SELECT phase, n_days, total_events,
       ((1000 * total_events::HUGEINT * (sum(n_days) OVER ()))
        // nullif(n_days::HUGEINT * (sum(total_events) OVER ()), 0))::BIGINT
         AS seasonal_permille
FROM per_phase
ORDER BY phase
"""


CHANGEPOINT_MIN_SEG = 3  # each side of a split must keep >= 3 days
CHANGEPOINT_TOP = 5


def changepoint_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection on the daily event series — the
    binary-segmentation step (the CUSUM / likelihood-ratio scan every
    monitoring stack runs to answer "did the event rate shift, and
    when?"). For every admissible split day d the mean-shift score is
    the squared CUSUM statistic (N·S_d − n_left·S)² normalized by
    N·n_left·n_right (S_d = prefix sum through d; maximizing it is
    the standard changepoint location estimator for a level shift) —
    carried entirely in DECIMAL(38,0) integer arithmetic so both
    engines agree bit-for-bit (no variance division, no floats).
    Top-CHANGEPOINT_TOP candidate days by score; recursing on the
    winning split is classic binary segmentation. [beyond-reference]
    time-series face, shares [[autocorr_daily_events]]'s series spine.

    Scale shape: ONE map-side-combined daily rollup touches the raw
    events; the prefix sum runs on the days-long rollup (a single
    calendar-bounded window partition), and the grand totals ride a
    1-row broadcast — the sanctioned scalar pattern. O(days) rows
    end to end regardless of corpus size."""
    return _cusum_report(_daily_series(spark, sf_dir))


def _cusum_report(series: DataFrame) -> DataFrame:
    """Top-CHANGEPOINT_TOP split days by squared CUSUM score over any
    contiguous (day_idx, x) integer series (testable on hand-built
    step series).

    Grand totals come from a FULL-FRAME window over the same single
    ordered pass as the prefix sums — one series lineage, so the
    upstream events rollup scans the corpus exactly once (a separate
    totals aggregate + crossJoin would re-derive the series subtree
    and scan events twice)."""
    wone = Window.partitionBy(one_group(F.col("day_idx"))).orderBy("day_idx")
    wcum = wone.rowsBetween(Window.unboundedPreceding, 0)
    wall = wone.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = series.select(
        "day_idx",
        F.sum("x").over(wcum).alias("s_left"),
        F.row_number().over(wone).alias("n_left"),
        F.sum("x").over(wall).alias("s_total"),
        F.count(F.lit(1)).over(wall).alias("n_total"),
    )
    return (
        cum
        .filter(
            (F.col("n_left") >= CHANGEPOINT_MIN_SEG)
            & (F.col("n_left") <= F.col("n_total") - CHANGEPOINT_MIN_SEG)
        )
        .select(
            "day_idx",
            F.col("n_left").cast("bigint").alias("n_left"),
            (F.col("n_total") - F.col("n_left")).cast("bigint").alias("n_right"),
            # The factors are widened to DECIMAL(38,0) BEFORE the
            # products: the DuckDB oracle's window sums are
            # HUGEINT-native, so its n·S products are exact, while an
            # int64 product here wraps around ~9.2e18 (≈2.5e16 events
            # over a year) — ADVICE r4 #4. With the pre-cast both
            # engines carry the whole numerator in wide integers.
            F.expr(
                "CAST(((CAST(n_total AS DECIMAL(38,0)) * s_left"
                "        - CAST(n_left AS DECIMAL(38,0)) * s_total)"
                "      * (CAST(n_total AS DECIMAL(38,0)) * s_left"
                "        - CAST(n_left AS DECIMAL(38,0)) * s_total))"
                "     div (CAST(n_total AS DECIMAL(38,0)) * n_left * (n_total - n_left))"
                "     AS BIGINT)"
            ).alias("cusum_score"),
        )
        .orderBy(F.col("cusum_score").desc(), "day_idx")
        .limit(CHANGEPOINT_TOP)
    )


_CHANGEPOINT_SQL = f"""
WITH {_SERIES_CTES},
cum AS (
  SELECT day_idx,
         sum(x) OVER (ORDER BY day_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_left,
         row_number() OVER (ORDER BY day_idx) AS n_left,
         sum(x) OVER () AS s_total,
         count(*) OVER () AS n_total
  FROM series
)
SELECT day_idx,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_total - n_left AS BIGINT) AS n_right,
       CAST((CAST(n_total * s_left - n_left * s_total AS HUGEINT)
             * CAST(n_total * s_left - n_left * s_total AS HUGEINT))
            // CAST(n_total * n_left * (n_total - n_left) AS HUGEINT)
            AS BIGINT) AS cusum_score
FROM cum
WHERE n_left >= {CHANGEPOINT_MIN_SEG} AND n_left <= n_total - {CHANGEPOINT_MIN_SEG}
ORDER BY cusum_score DESC, day_idx
LIMIT {CHANGEPOINT_TOP}
"""



def holt_trend_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α = β = ½)
    of the daily event rate per type — the capacity-planning upgrade
    of [[ewma_daily_events]] that also carries a TREND state, so the
    one-step-ahead forecast extrapolates growth instead of lagging
    it. Like the EWMA, this is a genuinely SEQUENTIAL fold (each
    state depends non-linearly on the previous one) that no window
    frame expresses.

    Exactness: α = β = ½ keeps every update a dyadic halving —
    level′ = (x + level + trend)/2, trend′ = (trend + (level′ −
    level))/2 — and both engines fold the identical IEEE op sequence
    left-to-right (Spark ``aggregate`` with a 2-element array state;
    DuckDB ``list_reduce`` over [x, 0] pairs whose first element
    seeds [level₀, trend₀] = [x₁, 0]), so the doubles hash-match
    bit-for-bit: no libm, no aggregation-order hazard.

    Scale: identical shape to the EWMA — the sequential part runs on
    the days-long per-type series AFTER the map-side-combined daily
    rollup; collect_list costs what the rollup shuffle already paid;
    the fold is one in-row expression."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / DAY_SECONDS).alias("day_idx"),
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day_idx", "n"))),
            lambda s: s["n"].cast("double"),
        ).alias("xs"),
        F.count("*").alias("n_days"),
    )
    state = F.aggregate(
        F.expr("slice(xs, 2, size(xs))"),
        F.array(F.element_at("xs", 1), F.lit(0.0)),
        lambda acc, x: F.array(
            (x + F.element_at(acc, 1) + F.element_at(acc, 2)) / F.lit(2.0),
            (
                F.element_at(acc, 2)
                + (
                    (x + F.element_at(acc, 1) + F.element_at(acc, 2)) / F.lit(2.0)
                    - F.element_at(acc, 1)
                )
            )
            / F.lit(2.0),
        ),
    )
    return (
        series.select("event_type", "n_days", state.alias("st"))
        .select(
            "event_type",
            "n_days",
            F.element_at("st", 1).alias("level"),
            F.element_at("st", 2).alias("trend"),
            (F.element_at("st", 1) + F.element_at("st", 2)).alias("forecast_next"),
        )
        .orderBy("event_type")
    )


_HOLT_SQL = f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 1000000 // {DAY_SECONDS} AS day_idx,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type,
         list(n::DOUBLE ORDER BY day_idx) AS xs,
         count(*)::BIGINT AS n_days
  FROM daily GROUP BY event_type
),
folded AS (
  SELECT event_type, n_days,
         list_reduce(
           list_transform(xs, x -> [x, 0.0::DOUBLE]),
           (acc, x) -> [ (x[1] + acc[1] + acc[2]) / 2,
                         (acc[2] + ((x[1] + acc[1] + acc[2]) / 2 - acc[1])) / 2 ]
         ) AS st
  FROM series
)
SELECT event_type, n_days, st[1] AS level, st[2] AS trend,
       (st[1] + st[2]) AS forecast_next
FROM folded
ORDER BY event_type
"""


def event_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type burstiness via the Fano factor over hourly
    counts — F = var/mean of the counts per fixed time window, the
    standard dispersion index: F ≈ 1000‰ is Poisson (memoryless
    traffic), >1000 bursty (retry storms, batch jobs), <1000
    regular (heartbeats). The number a capacity planner reads NEXT
    to [[max_concurrent_sessions]]'s peak: the peak says how high,
    the Fano factor says whether the peak is luck or structure.

    Counts come from the SAME dense gap-filled hour spine as
    [[resample_events_hourly]] — empty hours are real zeros and MUST
    enter the variance (dropping them biases F down exactly when the
    traffic is most bursty). Exactness: population variance carried
    as n·ΣQ − S² over integer counts, Fano per-mille =
    (1000·(nQ − S²)) div (n·S) — one integer ratio, no float moment
    math; products widen to DECIMAL(38,0)/HUGEINT (Q is count² —
    wraps int64 at ~3e9-event hours). Scale: one (type, hour)
    rollup; the spine is bounded by |types| × hours-of-history, and
    the moments aggregate that bounded relation."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
        )
    )
    dense = spine.join(counts, ["event_type", "hour"], "left").select(
        "event_type", F.coalesce("c", F.lit(0)).alias("c")
    )
    mom = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q"),
    )
    return mom.select(
        "event_type",
        "n_hours",
        F.col("s").alias("n_events"),
        F.expr(
            "CASE WHEN s = 0 THEN NULL ELSE"
            " CAST((1000 * (n_hours * q - CAST(s AS DECIMAL(38,0)) * s))"
            " div (CAST(n_hours AS DECIMAL(38,0)) * s) AS BIGINT) END"
        ).alias("fano_permille"),
    ).orderBy("event_type")


_FANO_SQL = """
WITH counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
b AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM counts GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
),
dense AS (
  SELECT s.event_type, coalesce(c.c, 0) AS c
  FROM spine s LEFT JOIN counts c
    ON c.event_type = s.event_type AND c.hour = s.hour
),
mom AS (
  SELECT event_type, count(*)::BIGINT AS n_hours,
         CAST(sum(c) AS BIGINT) AS s,
         sum(c::HUGEINT * c) AS q
  FROM dense GROUP BY event_type
)
SELECT event_type, n_hours, s AS n_events,
       CASE WHEN s = 0 THEN NULL ELSE
         CAST((1000 * (n_hours * q - s::HUGEINT * s))
              // (n_hours::HUGEINT * s) AS BIGINT) END AS fano_permille
FROM mom
ORDER BY event_type
"""


ROLL_DAYS = 7  # trailing window width (inclusive of the current day)


def rolling_median_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day MEDIAN of daily order revenue — the
    robust smoother next to [[ewma_daily_events]] (a mean-based EWMA
    chases a single promo-day spike for a week; the rolling median
    ignores it until spikes become the majority). SQL window frames
    cannot express a percentile over a RANGE frame, which is exactly
    why this is an operator and not a one-liner: the window is
    re-expressed as a bounded self-join of the DAILY rollup against
    its own trailing calendar week.

    Exactness: daily totals are integer cents; the median is the
    LOWER median (value at rank ⌈m/2⌉ of the ≤7 in-window days — a
    raw daily total, never an interpolated half-cent), so both
    engines agree bit-for-bit. Missing calendar days simply shrink
    the window (m < 7), reported per row.

    Scale: the rollup is calendar-bounded; the self-join expands it
    ≤7x and the per-day rank runs over ≤7 rows — nothing about the
    plan changes at 100 TB, where the only heavy stage remains the
    one map-side-combined daily aggregate."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("d"))
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).alias(
                "cents"
            )
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    joined = a.join(
        F.broadcast(b),
        (F.col("b.d") <= F.col("a.d")) & (F.col("b.d") > F.col("a.d") - ROLL_DAYS),
    ).select(F.col("a.d").alias("d"), F.col("b.cents").alias("w_cents"))
    w = Window.partitionBy("d").orderBy("w_cents")
    return (
        joined.withColumn("r", F.row_number().over(w))
        .withColumn("m", F.count("*").over(Window.partitionBy("d")))
        .groupBy("d")
        .agg(
            F.max("m").cast("bigint").alias("n_days_in_window"),
            F.max(F.when(F.expr("r = (m + 1) div 2"), F.col("w_cents")))
            .cast("bigint")
            .alias("median_cents"),
        )
        .orderBy("d")
    )


_ROLL_MEDIAN_SQL = f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS d,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS cents
  FROM orders GROUP BY 1
),
windowed AS (
  SELECT a.d, b.cents AS w_cents,
         row_number() OVER (PARTITION BY a.d ORDER BY b.cents) AS r,
         count(*) OVER (PARTITION BY a.d) AS m
  FROM daily a JOIN daily b
    ON b.d <= a.d AND b.d > a.d - {ROLL_DAYS}
)
SELECT d,
       max(m)::BIGINT AS n_days_in_window,
       max(CASE WHEN r = (m + 1) // 2 THEN w_cents END)::BIGINT AS median_cents
FROM windowed
GROUP BY d
ORDER BY d
"""


CUSUM_BASE_DAYS = 14  # baseline window that sets target, slack and limit
CUSUM_K_DIV = 20  # slack K = baseline_sum/20 (≈ half of a 10% shift)
# decision limit H = baseline_sum (≈ 20·K, the classic h = 4–5σ regime
# for the ~daily-count noise scale here)


def cusum_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's one-sided CUSUM pair (C⁺/C⁻ with reset-on-alarm) over
    the daily event rate per type — the ONLINE small-shift monitor
    that completes the SPC family: [[spc_individuals_chart]] flags
    single outlier days, [[changepoint_daily_events]] scans offline
    for the single best split, CUSUM accumulates evidence day by day
    and alarms on sustained drifts far smaller than either can see.

    All-integer recursion: deviations are scaled by the baseline day
    count (e_t = n_base·x_t − S_base), so target, slack K = S_base/20
    and limit H = S_base are exact BIGINTs and the fold never touches
    a float. The first CUSUM_BASE_DAYS observed days per type set the
    baseline; monitoring starts after them. Alarms RESET the side
    that fired (the standard restart posture).

    Execution: a genuinely SEQUENTIAL fold (each state depends on the
    previous through max(0, ·) and resets — no window frame expresses
    it), run as an ordered in-row ``aggregate`` over the ≤days-long
    per-type series, mirrored by DuckDB's left-to-right
    ``list_reduce``; identical integer op sequence, so both engines
    agree bit-for-bit (the ewma/holt doctrine, integer edition).

    Scale: the sequential part runs AFTER the map-side-combined daily
    rollup, on a calendar-bounded series — nothing about the plan
    changes at 100 TB."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / DAY_SECONDS).alias("day_idx"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day_idx")
    ranked = daily.withColumn("rk", F.row_number().over(w))
    base = ranked.filter(F.col("rk") <= CUSUM_BASE_DAYS).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_base"),
        F.sum("n").alias("s_base"),
    )
    series = (
        ranked.filter(F.col("rk") > CUSUM_BASE_DAYS)
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.array(F.col("day_idx"), F.col("n").cast("bigint")))
            ).alias("xs"),
            F.count(F.lit(1)).alias("n_monitored"),
        )
        .join(base, "event_type")
    )
    # state = [cplus, cminus, n_up, n_dn, first_alarm_day(0=none), max_cp, max_cm]
    zero = F.expr("array(0L, 0L, 0L, 0L, 0L, 0L, 0L)")

    def step(acc, x):
        e = x[1] * F.col("n_base") - F.col("s_base")
        k = F.expr(f"s_base div {CUSUM_K_DIV}")
        h = F.col("s_base")
        cpr = F.greatest(F.lit(0).cast("bigint"), acc[0] + e - k)
        cmr = F.greatest(F.lit(0).cast("bigint"), acc[1] - e - k)
        up = cpr > h
        dn = cmr > h
        return F.array(
            F.when(up, F.lit(0).cast("bigint")).otherwise(cpr),
            F.when(dn, F.lit(0).cast("bigint")).otherwise(cmr),
            acc[2] + F.when(up, 1).otherwise(0),
            acc[3] + F.when(dn, 1).otherwise(0),
            F.when((acc[4] == 0) & (up | dn), x[0]).otherwise(acc[4]),
            F.greatest(acc[5], cpr),
            F.greatest(acc[6], cmr),
        )

    folded = series.select(
        "event_type",
        F.col("n_monitored").cast("bigint").alias("n_monitored"),
        F.col("s_base").cast("bigint").alias("s_base"),
        F.aggregate(F.col("xs"), zero, step).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_monitored",
        "s_base",
        F.expr("st[2]").cast("bigint").alias("n_alarms_up"),
        F.expr("st[3]").cast("bigint").alias("n_alarms_down"),
        F.expr("CASE WHEN st[4] = 0 THEN CAST(NULL AS BIGINT) ELSE st[4] END").alias(
            "first_alarm_day"
        ),
        F.expr("st[5]").cast("bigint").alias("max_cusum_up"),
        F.expr("st[6]").cast("bigint").alias("max_cusum_down"),
    ).orderBy("event_type")


_CUSUM_CHART_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 1000000 // {DAY_SECONDS} AS day_idx,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rk
  FROM daily
),
base AS (
  SELECT event_type, count(*)::BIGINT AS n_base, sum(n)::BIGINT AS s_base
  FROM ranked WHERE rk <= {CUSUM_BASE_DAYS} GROUP BY event_type
),
series AS (
  SELECT r.event_type,
         list([r.day_idx, r.n] ORDER BY r.day_idx) AS xs,
         count(*)::BIGINT AS n_monitored,
         any_value(b.n_base) AS n_base, any_value(b.s_base) AS s_base
  FROM ranked r JOIN base b USING (event_type)
  WHERE r.rk > {CUSUM_BASE_DAYS}
  GROUP BY r.event_type
),
folded AS (
  SELECT event_type, n_monitored, s_base,
         list_reduce(
           list_prepend([0, 0, 0, 0, 0, 0, 0]::BIGINT[], xs),
           (acc, x) -> [
             CASE WHEN greatest(0, acc[1] + (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) > s_base
                  THEN 0 ELSE greatest(0, acc[1] + (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) END,
             CASE WHEN greatest(0, acc[2] - (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) > s_base
                  THEN 0 ELSE greatest(0, acc[2] - (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) END,
             acc[3] + CASE WHEN greatest(0, acc[1] + (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) > s_base THEN 1 ELSE 0 END,
             acc[4] + CASE WHEN greatest(0, acc[2] - (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) > s_base THEN 1 ELSE 0 END,
             CASE WHEN acc[5] = 0 AND (greatest(0, acc[1] + (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) > s_base
                                       OR greatest(0, acc[2] - (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}) > s_base)
                  THEN x[1] ELSE acc[5] END,
             greatest(acc[6], greatest(0, acc[1] + (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV})),
             greatest(acc[7], greatest(0, acc[2] - (x[2] * n_base - s_base) - s_base // {CUSUM_K_DIV}))
           ]
         ) AS st
  FROM series
)
SELECT event_type, n_monitored, s_base,
       st[3]::BIGINT AS n_alarms_up,
       st[4]::BIGINT AS n_alarms_down,
       CASE WHEN st[5] = 0 THEN NULL ELSE st[5] END::BIGINT AS first_alarm_day,
       st[6]::BIGINT AS max_cusum_up,
       st[7]::BIGINT AS max_cusum_down
FROM folded
ORDER BY event_type
"""


QUERIES = (
    (cusum_control_chart, _CUSUM_CHART_SQL),
    (rolling_median_daily_revenue, _ROLL_MEDIAN_SQL),
    (forecast_seasonal_naive_backtest, _FORECAST_SQL),
    (event_burstiness_fano, _FANO_SQL),
    (ewma_daily_events, _EWMA_SQL),
    (ols_trend_per_segment, _OLS_SQL),
    (autocorr_daily_events, _ACF_SQL),
    (seasonal_decompose_daily, _SEASONAL_SQL),
    (changepoint_daily_events, _CHANGEPOINT_SQL),
    (holt_trend_daily_events, _HOLT_SQL),
)
