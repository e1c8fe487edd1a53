"""Rank-based and trend inference — the round-8 second batch: Friedman
repeated-measures ranks, Jonckheere–Terpstra ordered-alternative trend,
Cochran–Armitage proportion trend, Durbin–Watson residual
autocorrelation, Welch's unequal-variance t, Mood's median test, and
the Hodges–Lehmann shift estimator.

[beyond-reference] per SURVEY.md §2.2: the reference
(antonylucas/rdbms-metadata-manager, app.py — a 5-rule metadata
linter) has no statistical surface; these close the classical-test
gaps around the existing ladder — [[kruskal_wallis_priority]] asks
"do the groups differ?", [[jonckheere_terpstra_priority]] asks the
sharper ordered question "do they INCREASE with priority?";
[[brown_forsythe_priority]] referees ANOVA's variance assumption,
[[welch_t_ab]] is the two-sample test that drops it;
[[mann_whitney_u_test]] compares two groups' locations,
[[mood_median_test]] extends that to k groups on counts alone and
[[hodges_lehmann_shift]] turns the rank verdict into an estimate with
units; [[cochran_q_scorer_battery]] handles correlated binary raters,
[[friedman_daily_event_types]] is its graded-response twin;
[[autocorr_daily_events]] reads raw serial correlation,
[[durbin_watson_daily]] reads what's left of it AFTER the trend an
OLS fit explains.

Determinism doctrine (README "Correctness strategy"): sufficient
statistics are exact integers on both engines (counts, cent sums,
doubled midranks — 2r = 2·rank + ties − 1 keeps half-integer
midranks integral); products ride DECIMAL(38,0)/HUGEINT; any final
float is ONE identical IEEE scalar DAG over those exact integers
(+,-,*,/ and correctly-rounded sqrt only — never libm), and every
order-dependent float sum is replaced by per-term micro-flooring
(the Cramér's V / CMH lever, [[cramers_v_nation_segment]]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.hashing import h32, h32_sql
from .base import DAY_SECONDS, load
from .prefix import one_group, ranged_prefix

CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
VCENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
PRIO_G = "CAST(substring(o_orderpriority, 1, 1) AS INT)"
PRIO_G_SQL = "CAST(substr(o_orderpriority, 1, 1) AS INT)"


# --------------------------------------------------------------------------
# friedman_daily_event_types
# --------------------------------------------------------------------------


def friedman_daily_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the event types keep the SAME daily
    volume ordering day after day? Blocks = calendar days, treatments
    = event types, response = the day's count per type (absent cells
    count 0 — the grid is completed so every block ranks every
    treatment). The graded-response twin of
    [[cochran_q_scorer_battery]] (Q is Friedman on 0/1 responses) and
    the day-blocked complement of [[drift_event_type_shares]]: shares
    ask "did the mix move?", Friedman asks "is the ordering stable
    enough to bet on?".

    Exactness: within-day midranks are kept integral as doubled ranks
    2r = 2·RANK + ties − 1; the tie-corrected statistic
    χ² = (k−1)·(Σ_j R2_j² − n²k(k+1)²) / (A4 − nk(k+1)²)
    (R2_j = per-type doubled-rank sum, A4 = Σ(2r)²) is a ratio of
    exact DECIMAL(38,0)/HUGEINT integers reported in truncating
    per-mille; an all-tied grid zeroes the denominator → NULL.

    Scale: one (day, type)-keyed rollup over events (the only pass
    over raw data), then windows over the DAYS×TYPES grid — a
    calendar-bounded × small-dictionary relation, trivially
    redistributable at 100 TB; the per-day rank window partitions on
    the day key, never globally."""
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cell = cell.localCheckpoint(eager=False)
    days = cell.select("d").distinct()
    types = cell.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(cell, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    r2 = grid.withColumn(
        "r2",
        2 * F.rank().over(Window.partitionBy("d").orderBy("cnt"))
        + F.count(F.lit(1)).over(Window.partitionBy("d", "cnt"))
        - 1,
    )
    per_type = r2.groupBy("event_type").agg(
        F.sum(F.col("r2").cast("decimal(38,0)")).alias("r2_sum"),
        F.sum(F.expr("CAST(r2 AS DECIMAL(38,0)) * r2")).alias("a4_j"),
        F.count(F.lit(1)).alias("n_j"),
    )
    sums = per_type.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n_j").alias("n"),
        F.sum(F.expr("r2_sum * r2_sum")).alias("sum_r2sq"),
        F.sum("a4_j").alias("a4"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("k").cast("bigint").alias("k_types"),
        F.expr("CAST(k - 1 AS BIGINT)").alias("df"),
        F.expr(
            "CASE WHEN a4 - CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1) <= 0"
            " THEN CAST(NULL AS BIGINT) ELSE"
            " CAST((1000 * (k-1) * (sum_r2sq"
            "        - CAST(n AS DECIMAL(38,0)) * n * k * (k+1) * (k+1)))"
            "   div (a4 - CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1))"
            " AS BIGINT) END"
        ).alias("chi2_pm"),
    )


_FRIEDMAN_SQL = f"""
WITH cell AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d, event_type,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT dd.d, tt.event_type, coalesce(cell.cnt, 0) AS cnt
  FROM (SELECT DISTINCT d FROM cell) dd
  CROSS JOIN (SELECT DISTINCT event_type FROM cell) tt
  LEFT JOIN cell ON cell.d = dd.d AND cell.event_type = tt.event_type
),
ranked AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY d ORDER BY cnt)
           + count(*) OVER (PARTITION BY d, cnt) - 1 AS r2
  FROM grid
),
pt AS (
  SELECT event_type, sum(r2)::HUGEINT AS r2_sum,
         sum(r2::HUGEINT * r2) AS a4_j, count(*)::BIGINT AS n_j
  FROM ranked GROUP BY 1
),
s AS (
  SELECT count(*)::BIGINT AS k, max(n_j)::BIGINT AS n,
         sum(r2_sum * r2_sum) AS sum_r2sq, sum(a4_j) AS a4
  FROM pt
)
SELECT n AS n_days, k AS k_types, CAST(k - 1 AS BIGINT) AS df,
       CASE WHEN a4 - n::HUGEINT * k * (k+1) * (k+1) <= 0 THEN NULL ELSE
         CAST((1000 * (k-1) * (sum_r2sq - n::HUGEINT * n * k * (k+1) * (k+1)))
              // (a4 - n::HUGEINT * k * (k+1) * (k+1)) AS BIGINT) END AS chi2_pm
FROM s
"""


# --------------------------------------------------------------------------
# jonckheere_terpstra_priority
# --------------------------------------------------------------------------


def jonckheere_terpstra_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative trend: does order value
    INCREASE along the priority scale 1-URGENT → 5-LOW?
    [[kruskal_wallis_priority]] only answers "the groups differ";
    JT spends its power on the one ordering the scale implies — it is
    Σ over group pairs i<j of the Mann–Whitney count, so a monotone
    drift that KW dilutes across k−1 df shows up whole here.

    Exactness: pair counts come from the per-cent-value group
    histogram — for each distinct value, concordant pairs are
    n_g·(cumulative lower-group counts below the value) and ties
    across groups add ½ (kept integral as doubled units, the AUC 2U
    idiom at `llm/curation.py` quality_scorer_auc); the tie-corrected
    moments ride exact DECIMAL(38,0)/HUGEINT sums over group sizes
    n_i and value-tie sizes t_v, and z is ONE identical IEEE DAG
    (the three-term Var formula with /72, /36·…, /8·… — Lehmann's
    form) over those integers.

    Scale: one groupBy(cent value) histogram (the shuffle), exclusive
    prefix sums over the value order via the range-partitioned
    ``ranged_prefix`` kernel — no single-partition window — and one
    map-side-combined final rollup. Reported per-pair milli units
    stay BIGINT at any corpus size even though raw JT grows ~n²."""
    orders = load(spark, sf_dir, "orders")
    conds = [
        F.sum(F.expr(f"CASE WHEN g = {i} THEN 1 ELSE 0 END")).alias(f"n{i}")
        for i in range(1, 6)
    ]
    hist = (
        orders.select(F.expr(CENTS).alias("v"), F.expr(PRIO_G).alias("g"))
        .groupBy("v")
        .agg(*conds)
    )
    cum = ranged_prefix(hist, [F.col("v")], sum_cols=["n1", "n2", "n3", "n4"])
    lower = {
        2: "(cum_n1 - n1)",
        3: "((cum_n1 - n1) + (cum_n2 - n2))",
        4: "((cum_n1 - n1) + (cum_n2 - n2) + (cum_n3 - n3))",
        5: "((cum_n1 - n1) + (cum_n2 - n2) + (cum_n3 - n3) + (cum_n4 - n4))",
    }
    tie_lower = {
        2: "n1",
        3: "(n1 + n2)",
        4: "(n1 + n2 + n3)",
        5: "(n1 + n2 + n3 + n4)",
    }
    jt2_expr = " + ".join(
        f"CAST(n{g} AS DECIMAL(38,0)) * (2 * {lower[g]} + {tie_lower[g]})"
        for g in range(2, 6)
    )
    t_expr = "(n1 + n2 + n3 + n4 + n5)"
    aggs = [
        F.sum(F.expr(jt2_expr)).alias("jt2"),
        F.sum(F.expr(f"CAST({t_expr} AS DECIMAL(38,0)) * ({t_expr} - 1)")).alias("st2"),
        F.sum(
            F.expr(
                f"CAST({t_expr} AS DECIMAL(38,0)) * ({t_expr} - 1) * ({t_expr} - 2)"
            )
        ).alias("st3"),
        F.sum(
            F.expr(
                f"CAST({t_expr} AS DECIMAL(38,0)) * ({t_expr} - 1) * (2 * {t_expr} + 5)"
            )
        ).alias("stv"),
    ] + [F.sum(f"n{i}").alias(f"m{i}") for i in range(1, 6)]
    sums = cum.agg(*aggs)
    n = "(m1 + m2 + m3 + m4 + m5)"
    sumsq = " + ".join(f"CAST(m{i} AS DECIMAL(38,0)) * m{i}" for i in range(1, 6))
    sn2 = " + ".join(f"CAST(m{i} AS DECIMAL(38,0)) * (m{i} - 1)" for i in range(1, 6))
    sn3 = " + ".join(
        f"CAST(m{i} AS DECIMAL(38,0)) * (m{i} - 1) * (m{i} - 2)" for i in range(1, 6)
    )
    snv = " + ".join(
        f"CAST(m{i} AS DECIMAL(38,0)) * (m{i} - 1) * (2 * m{i} + 5)"
        for i in range(1, 6)
    )
    mean2 = f"((CAST({n} AS DECIMAL(38,0)) * {n} - ({sumsq})) div 2)"
    a_term = (
        f"(CAST({n} AS DECIMAL(38,0)) * ({n} - 1) * (2 * {n} + 5)"
        f" - ({snv}) - stv)"
    )
    var = (
        f"(CAST({a_term} AS DOUBLE) / 72"
        f" + CAST({sn3} AS DOUBLE) * CAST(st3 AS DOUBLE)"
        f"   / (36 * CAST({n} AS DOUBLE) * ({n} - 1) * ({n} - 2))"
        f" + CAST({sn2} AS DOUBLE) * CAST(st2 AS DOUBLE)"
        f"   / (8 * CAST({n} AS DOUBLE) * ({n} - 1)))"
    )
    return sums.select(
        F.expr(f"CAST({n} AS BIGINT)").alias("n_orders"),
        F.expr(
            f"CAST((1000 * jt2) div (CAST({n} AS DECIMAL(38,0)) * ({n} - 1))"
            " AS BIGINT)"
        ).alias("jt_milli_per_pair"),
        F.expr(
            f"CAST((1000 * {mean2}) div (CAST({n} AS DECIMAL(38,0)) * ({n} - 1))"
            " AS BIGINT)"
        ).alias("mean_milli_per_pair"),
        F.expr(
            f"CASE WHEN {n} < 3 OR {var} <= 0 THEN NULL ELSE"
            f" (CAST(jt2 - {mean2} AS DOUBLE) / 2) / sqrt({var}) END"
        ).alias("jt_z"),
    )


def _jt_oracle() -> str:
    conds = ", ".join(
        f"sum(CASE WHEN g = {i} THEN 1 ELSE 0 END)::BIGINT AS n{i}"
        for i in range(1, 6)
    )
    lower = {
        2: "(cum_n1 - n1)",
        3: "((cum_n1 - n1) + (cum_n2 - n2))",
        4: "((cum_n1 - n1) + (cum_n2 - n2) + (cum_n3 - n3))",
        5: "((cum_n1 - n1) + (cum_n2 - n2) + (cum_n3 - n3) + (cum_n4 - n4))",
    }
    tie_lower = {2: "n1", 3: "(n1 + n2)", 4: "(n1 + n2 + n3)", 5: "(n1 + n2 + n3 + n4)"}
    jt2 = " + ".join(
        f"n{g}::HUGEINT * (2 * {lower[g]} + {tie_lower[g]})" for g in range(2, 6)
    )
    cums = ", ".join(
        f"sum(n{i}) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        f" AS cum_n{i}"
        for i in range(1, 5)
    )
    t = "(n1 + n2 + n3 + n4 + n5)"
    n = "(m1 + m2 + m3 + m4 + m5)"
    sumsq = " + ".join(f"m{i}::HUGEINT * m{i}" for i in range(1, 6))
    sn2 = " + ".join(f"m{i}::HUGEINT * (m{i} - 1)" for i in range(1, 6))
    sn3 = " + ".join(f"m{i}::HUGEINT * (m{i} - 1) * (m{i} - 2)" for i in range(1, 6))
    snv = " + ".join(
        f"m{i}::HUGEINT * (m{i} - 1) * (2 * m{i} + 5)" for i in range(1, 6)
    )
    mean2 = f"(({n}::HUGEINT * {n} - ({sumsq})) // 2)"
    a_term = f"({n}::HUGEINT * ({n} - 1) * (2 * {n} + 5) - ({snv}) - stv)"
    var = (
        f"(CAST({a_term} AS DOUBLE) / 72"
        f" + CAST({sn3} AS DOUBLE) * CAST(st3 AS DOUBLE)"
        f"   / (36 * CAST({n} AS DOUBLE) * ({n} - 1) * ({n} - 2))"
        f" + CAST({sn2} AS DOUBLE) * CAST(st2 AS DOUBLE)"
        f"   / (8 * CAST({n} AS DOUBLE) * ({n} - 1)))"
    )
    return f"""
WITH hist AS (
  SELECT {CENTS.replace("o_totalprice", "o_totalprice")} AS v, {conds}
  FROM (SELECT o_totalprice, {PRIO_G_SQL} AS g FROM orders)
  GROUP BY 1
),
cum AS (SELECT *, {cums} FROM hist),
sums AS (
  SELECT sum({jt2}) AS jt2,
         sum({t}::HUGEINT * ({t} - 1)) AS st2,
         sum({t}::HUGEINT * ({t} - 1) * ({t} - 2)) AS st3,
         sum({t}::HUGEINT * ({t} - 1) * (2 * {t} + 5)) AS stv,
         {", ".join(f"sum(n{i})::BIGINT AS m{i}" for i in range(1, 6))}
  FROM cum
)
SELECT CAST({n} AS BIGINT) AS n_orders,
       CAST((1000 * jt2) // ({n}::HUGEINT * ({n} - 1)) AS BIGINT)
         AS jt_milli_per_pair,
       CAST((1000 * {mean2}) // ({n}::HUGEINT * ({n} - 1)) AS BIGINT)
         AS mean_milli_per_pair,
       CASE WHEN {n} < 3 OR {var} <= 0 THEN NULL ELSE
         (CAST(jt2 - {mean2} AS DOUBLE) / 2) / sqrt({var}) END AS jt_z
FROM sums
"""


# --------------------------------------------------------------------------
# cochran_armitage_trend
# --------------------------------------------------------------------------


def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend in proportions: does the share of
    FINISHED orders (o_orderstatus = 'F') drift along the ordered
    priority scale? The proportions twin of
    [[jonckheere_terpstra_priority]] (JT trends a continuous response,
    CA trends a rate) and the ordered upgrade of the chi-square
    independence reading in [[cramers_v_nation_segment]]: independence
    tests burn df on every deviation pattern, CA spends ONE df on the
    monotone one. Scores are the priority digits 1..5.

    Exactness: the five sufficient statistics (n, successes R,
    Σwᵢrᵢ, Σwᵢnᵢ, Σwᵢ²nᵢ) are one map-side-combined integer
    aggregate; numerator n·Σwr − R·Σwn and variance kernel
    R(n−R)(n·Σw²n − (Σwn)²) ride DECIMAL(38,0)/HUGEINT; z is ONE
    identical IEEE DAG (two correctly-rounded sqrts) over them.
    Degenerate rate (R = 0 or R = n) or constant scores → NULL.

    Scale: a single aggregate over orders — no join, no window; the
    reduction is 5 numbers regardless of corpus size."""
    orders = load(spark, sf_dir, "orders")
    sums = orders.select(
        F.expr(PRIO_G).alias("w"),
        F.expr("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END").alias("r"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("rr"),
        F.sum(F.expr("w * r")).alias("swr"),
        F.sum(F.expr("CAST(w AS BIGINT)")).alias("swn"),
        F.sum(F.expr("CAST(w AS BIGINT) * w")).alias("sw2n"),
    )
    num = "(CAST(n AS DECIMAL(38,0)) * swr - CAST(rr AS DECIMAL(38,0)) * swn)"
    den2 = (
        "(CAST(rr AS DECIMAL(38,0)) * (n - rr)"
        " * (CAST(n AS DECIMAL(38,0)) * sw2n - CAST(swn AS DECIMAL(38,0)) * swn))"
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("rr").cast("bigint").alias("n_finished"),
        F.expr("CAST((1000 * rr) div n AS BIGINT)").alias("finished_rate_pm"),
        F.expr(
            f"CASE WHEN {den2} <= 0 THEN NULL ELSE"
            f" CAST({num} AS DOUBLE) * sqrt(CAST(n AS DOUBLE))"
            f" / sqrt(CAST({den2} AS DOUBLE)) END"
        ).alias("ca_z"),
    )


_CA_SQL = f"""
WITH sums AS (
  SELECT count(*)::BIGINT AS n,
         sum(r)::BIGINT AS rr,
         sum(w * r)::BIGINT AS swr,
         sum(w)::BIGINT AS swn,
         sum(w * w)::BIGINT AS sw2n
  FROM (SELECT {PRIO_G_SQL} AS w,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS r
        FROM orders)
)
SELECT n AS n_orders, rr AS n_finished,
       CAST((1000 * rr) // n AS BIGINT) AS finished_rate_pm,
       CASE WHEN rr::HUGEINT * (n - rr)
                 * (n::HUGEINT * sw2n - swn::HUGEINT * swn) <= 0 THEN NULL ELSE
         CAST(n::HUGEINT * swr - rr::HUGEINT * swn AS DOUBLE)
         * sqrt(CAST(n AS DOUBLE))
         / sqrt(CAST(rr::HUGEINT * (n - rr)
                * (n::HUGEINT * sw2n - swn::HUGEINT * swn) AS DOUBLE)) END AS ca_z
FROM sums
"""


# --------------------------------------------------------------------------
# durbin_watson_daily
# --------------------------------------------------------------------------


def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson serial-correlation test on the residuals of the
    daily-event-count OLS trend — [[autocorr_daily_events]] reads the
    RAW lag-1 correlation, which a simple linear trend inflates; DW
    reads what remains AFTER the trend [[ols_trend_per_segment]]-style
    fit explains, the check that decides whether
    [[theil_sen_daily_trend]]'s standard errors can be trusted at all
    (DW ≈ 2 ⇒ independent residuals; → 0 positive, → 4 negative
    serial correlation). Gaps in the calendar pair each day with the
    previous OBSERVED day.

    Exactness: the OLS sufficient statistics (n, Σx, Σy, Σx², Σxy)
    are exact integers; slope, intercept, and each residual are ONE
    identical IEEE DAG over them (projected once, reused by both the
    lag and the square); the two quadratic-form sums are
    order-independent because every per-day term is micro-FLOORED to
    an integer before summation (the CMH lever) — DW is then a single
    final ratio. slope_micro is an exact truncating DECIMAL div.

    Scale: one day-keyed rollup over events; everything after runs on
    the calendar-bounded daily relation (lag window sanctioned via
    ``one_group``)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    sums = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d")).alias("sxx"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    b_expr = (
        "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"
    )
    resid = (
        daily.crossJoin(F.broadcast(sums))
        .withColumn("b", F.expr(b_expr))
        .withColumn(
            "e",
            F.expr(
                "CAST(y AS DOUBLE)"
                " - (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
                " - b * CAST(d AS DOUBLE)"
            ),
        )
        .withColumn("e_prev", F.lag("e").over(Window.partitionBy(one_group(F.col("d"))).orderBy("d")))
    )
    terms = resid.agg(
        F.max("n").alias("n"),
        F.max(F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE"
            " CAST((1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx) AS BIGINT)"
            " END"
        )).alias("slope_micro"),
        F.sum(F.expr("CAST(floor(1000000 * e * e) AS BIGINT)")).alias("sse_micro"),
        F.sum(
            F.expr(
                "CASE WHEN e_prev IS NULL THEN 0 ELSE"
                " CAST(floor(1000000 * (e - e_prev) * (e - e_prev)) AS BIGINT) END"
            )
        ).alias("sdd_micro"),
    )
    return terms.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("slope_micro"),
        F.expr(
            "CASE WHEN n < 3 OR sse_micro <= 0 THEN NULL ELSE"
            " CAST(sdd_micro AS DOUBLE) / CAST(sse_micro AS DOUBLE) END"
        ).alias("dw_stat"),
    )


_DW_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d, count(*)::BIGINT AS y
  FROM events GROUP BY 1
),
sums AS (
  SELECT count(*)::BIGINT AS n, sum(d::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(d::HUGEINT * d) AS sxx, sum(d::HUGEINT * y) AS sxy
  FROM daily
),
resid AS (
  SELECT n, sx, sy, sxx, sxy, d, y,
         CAST(y AS DOUBLE)
           - (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
           - b * CAST(d AS DOUBLE) AS e
  FROM (
    SELECT *,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS b
    FROM daily, sums
  )
),
lagged AS (
  SELECT *, lag(e) OVER (ORDER BY d) AS e_prev FROM resid
),
terms AS (
  SELECT max(n) AS n,
         max(CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
             CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
                  AS BIGINT) END) AS slope_micro,
         sum(CAST(floor(1000000 * e * e) AS BIGINT))::BIGINT AS sse_micro,
         sum(CASE WHEN e_prev IS NULL THEN 0 ELSE
             CAST(floor(1000000 * (e - e_prev) * (e - e_prev)) AS BIGINT)
             END)::BIGINT AS sdd_micro
  FROM lagged
)
SELECT CAST(n AS BIGINT) AS n_days, slope_micro,
       CASE WHEN n < 3 OR sse_micro <= 0 THEN NULL ELSE
         CAST(sdd_micro AS DOUBLE) / CAST(sse_micro AS DOUBLE) END AS dw_stat
FROM terms
"""


# --------------------------------------------------------------------------
# welch_t_ab
# --------------------------------------------------------------------------


def welch_t_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t on the salted-hash A/A experiment —
    the parametric middle of the experimentation ladder: faster than
    [[permutation_test_ab]] (no fan-out), stronger than
    [[mann_whitney_u_test]] when means are what's billed, and honest
    where Student's pooled t is not (arms need not share a variance —
    the same robustness [[brown_forsythe_priority]] audits for
    ANOVA). Arms reuse the repo's md5('cuped:'||user) % 2 assignment
    so every A/A face reads the same experiment.

    Exactness: per-arm (n, Σcents, Σcents²) are exact
    DECIMAL(38,0)/HUGEINT aggregates; t and the Welch–Satterthwaite
    df are ONE identical IEEE DAG over them (sample variances via the
    ΣΣ−S²/n form, squares by explicit multiplication, never pow);
    mean_diff_milli is an exact truncating div. Arms with n < 2 or a
    zero variance sum → NULL t/df.

    Scale: one user-keyed rollup (the per-user metric shuffle), then
    a single map-side-combined aggregate to six numbers."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr(VCENTS).alias("cents")
    )
    per_user = ev.groupBy("user_id").agg(F.sum("cents").alias("cents"))
    armed = per_user.withColumn(
        "arm",
        h32(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))) % 2,
    )
    sums = armed.agg(
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("n0"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("n1"),
        F.sum(
            F.expr("CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END")
        ).alias("s0"),
        F.sum(
            F.expr("CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END")
        ).alias("s1"),
        F.sum(
            F.expr(
                "CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) * cents"
                " ELSE 0 END"
            )
        ).alias("ss0"),
        F.sum(
            F.expr(
                "CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0)) * cents"
                " ELSE 0 END"
            )
        ).alias("ss1"),
    )
    v0 = (
        "((CAST(ss0 AS DOUBLE)"
        " - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
        " / (CAST(n0 AS DOUBLE) - 1))"
    )
    v1 = (
        "((CAST(ss1 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        " / (CAST(n1 AS DOUBLE) - 1))"
    )
    se2 = f"({v1} / CAST(n1 AS DOUBLE) + {v0} / CAST(n0 AS DOUBLE))"
    return sums.select(
        F.col("n0").cast("bigint").alias("n_ctrl"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.expr(
            "CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE"
            " CAST((1000 * s1) div n1 - (1000 * s0) div n0 AS BIGINT) END"
        ).alias("mean_diff_milli"),
        F.expr(
            f"CASE WHEN n0 < 2 OR n1 < 2 OR {se2} <= 0 THEN NULL ELSE"
            f" (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            f"  - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / sqrt({se2}) END"
        ).alias("t_stat"),
        F.expr(
            f"CASE WHEN n0 < 2 OR n1 < 2 OR {se2} <= 0 THEN NULL ELSE"
            f" ({se2} * {se2})"
            f" / (({v1} / CAST(n1 AS DOUBLE)) * ({v1} / CAST(n1 AS DOUBLE))"
            f"     / (CAST(n1 AS DOUBLE) - 1)"
            f"    + ({v0} / CAST(n0 AS DOUBLE)) * ({v0} / CAST(n0 AS DOUBLE))"
            f"     / (CAST(n0 AS DOUBLE) - 1)) END"
        ).alias("df_welch"),
    )


def _welch_oracle() -> str:
    arm = h32_sql("'cuped:' || user_id::VARCHAR") + " % 2"
    v0 = (
        "((CAST(ss0 AS DOUBLE)"
        " - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
        " / (CAST(n0 AS DOUBLE) - 1))"
    )
    v1 = (
        "((CAST(ss1 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        " / (CAST(n1 AS DOUBLE) - 1))"
    )
    se2 = f"({v1} / CAST(n1 AS DOUBLE) + {v0} / CAST(n0 AS DOUBLE))"
    return f"""
WITH per_user AS (
  SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events GROUP BY 1
),
armed AS (SELECT cents, {arm} AS arm FROM per_user),
sums AS (
  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN arm = 0 THEN cents::HUGEINT ELSE 0 END) AS s0,
         sum(CASE WHEN arm = 1 THEN cents::HUGEINT ELSE 0 END) AS s1,
         sum(CASE WHEN arm = 0 THEN cents::HUGEINT * cents ELSE 0 END) AS ss0,
         sum(CASE WHEN arm = 1 THEN cents::HUGEINT * cents ELSE 0 END) AS ss1
  FROM armed
)
SELECT n0 AS n_ctrl, n1 AS n_treat,
       CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE
         CAST((1000 * s1) // n1 - (1000 * s0) // n0 AS BIGINT) END
         AS mean_diff_milli,
       CASE WHEN n0 < 2 OR n1 < 2 OR {se2} <= 0 THEN NULL ELSE
         (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / sqrt({se2}) END AS t_stat,
       CASE WHEN n0 < 2 OR n1 < 2 OR {se2} <= 0 THEN NULL ELSE
         ({se2} * {se2})
         / (({v1} / CAST(n1 AS DOUBLE)) * ({v1} / CAST(n1 AS DOUBLE))
             / (CAST(n1 AS DOUBLE) - 1)
            + ({v0} / CAST(n0 AS DOUBLE)) * ({v0} / CAST(n0 AS DOUBLE))
             / (CAST(n0 AS DOUBLE) - 1)) END AS df_welch
FROM sums
"""


# --------------------------------------------------------------------------
# mood_median_test
# --------------------------------------------------------------------------


def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five priority classes: split
    every order at the GRAND lower median of o_totalprice and ask the
    2×5 chi-square whether the above-median share differs by class —
    the bluntest of the k-group location tests (it only reads which
    side of one cut each value lands on), which is exactly why it's
    the robustness referee for [[kruskal_wallis_priority]]: KW can be
    dragged by one class's tail shape; Mood cannot.

    Exactness: the grand median is the exact rank-⌈n/2⌉ cent value
    from the value histogram via the range-partitioned prefix kernel
    (never a single-partition sort — the
    [[approx_percentile_rank_audit]] lever); cell counts are exact
    integers, and each of the 10 (O·n − rowtot·coltot)²/(n·rowtot·
    coltot) terms is one identical IEEE DAG micro-floored to an
    integer before the fixed-order 10-term sum (the CMH lever).
    A degenerate split (all values on one side) or an empty class →
    NULL chi2.

    Scale: one groupBy(cent value) histogram + the B-range prefix
    pass for the median; one conditional aggregate over orders for
    the cells. No window ever sees more than |distinct values|/B
    rows."""
    # ONE raw pass: the (value, group) histogram feeds the median
    # kernel AND the 2×5 cells (previously the cells re-scanned and
    # re-aggregated the full orders table, and the ungrouped `tot`
    # re-ran the histogram rollup a second time — guide §1.2). The
    # per-group counts n1..n5 make a_i/t_i exact rollups of the same
    # ≤|distinct cents| relation: a_i = Σ_{v>med} n_i, t_i = Σ n_i —
    # integer-identical to the per-row conditional counts.
    orders = load(spark, sf_dir, "orders")
    conds = [
        F.sum(F.expr(f"CASE WHEN g = {i} THEN 1 ELSE 0 END")).alias(f"n{i}")
        for i in range(1, 6)
    ]
    # cnt stays count(*) (ADVICE r9 #2): the oracle's histogram counts
    # every order, so the median must too — n1..n5 alone would drop a
    # row whose PRIO_G is NULL/out-of-range (exact on TPC-H shape, but
    # a data-dependent divergence on malformed priorities).
    hist = (
        orders.select(F.expr(CENTS).alias("v"), F.expr(PRIO_G).alias("g"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"), *conds)
    )
    # cum now has THREE consumers (tot, med, cells) — checkpoint it so
    # the kernel's window+offset-join evaluates once, not per consumer
    cum = ranged_prefix(hist, [F.col("v")], sum_cols=["cnt"]).localCheckpoint(
        eager=False
    )
    tot = cum.agg(F.sum("cnt").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(F.expr("cum_cnt >= (n + 1) div 2"), F.col("v"))
            ).alias("med")
        )
    )
    cells = (
        cum.crossJoin(F.broadcast(med))
        .agg(
            F.sum("cnt").alias("n"),
            F.max("med").alias("med"),
            *[
                F.sum(
                    F.expr(f"CASE WHEN v > med THEN n{i} ELSE 0 END")
                ).alias(f"a{i}")
                for i in range(1, 6)
            ],
            *[F.sum(f"n{i}").alias(f"t{i}") for i in range(1, 6)],
        )
    )
    a_tot = "(a1 + a2 + a3 + a4 + a5)"
    term = lambda o, rowtot, coltot: (  # noqa: E731
        f"CAST(floor(1000000 *"
        f" (CAST(CAST({o} AS DECIMAL(38,0)) * n"
        f"       - CAST({rowtot} AS DECIMAL(38,0)) * {coltot} AS DOUBLE)"
        f"  * CAST(CAST({o} AS DECIMAL(38,0)) * n"
        f"       - CAST({rowtot} AS DECIMAL(38,0)) * {coltot} AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) * CAST({rowtot} AS DOUBLE)"
        f"    * CAST({coltot} AS DOUBLE))) AS BIGINT)"
    )
    chi2 = " + ".join(
        [term(f"a{i}", f"t{i}", a_tot) for i in range(1, 6)]
        + [term(f"(t{i} - a{i})", f"t{i}", f"(n - {a_tot})") for i in range(1, 6)]
    )
    guard = (
        f"{a_tot} = 0 OR {a_tot} = n OR t1 = 0 OR t2 = 0 OR t3 = 0"
        " OR t4 = 0 OR t5 = 0"
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("med").cast("bigint").alias("grand_median_cents"),
        F.lit(4).cast("bigint").alias("df"),
        F.expr(
            f"CASE WHEN {guard} THEN NULL ELSE CAST({chi2} AS BIGINT) END"
        ).alias("chi2_micro"),
    )


def _mood_oracle() -> str:
    a_tot = "(a1 + a2 + a3 + a4 + a5)"

    def term(o: str, rowtot: str, coltot: str) -> str:
        return (
            f"CAST(floor(1000000 *"
            f" (CAST({o}::HUGEINT * n - {rowtot}::HUGEINT * {coltot} AS DOUBLE)"
            f"  * CAST({o}::HUGEINT * n - {rowtot}::HUGEINT * {coltot} AS DOUBLE))"
            f" / (CAST(n AS DOUBLE) * CAST({rowtot} AS DOUBLE)"
            f"    * CAST({coltot} AS DOUBLE))) AS BIGINT)"
        )

    chi2 = " + ".join(
        [term(f"a{i}", f"t{i}", a_tot) for i in range(1, 6)]
        + [term(f"(t{i} - a{i})", f"t{i}", f"(n - {a_tot})") for i in range(1, 6)]
    )
    guard = (
        f"{a_tot} = 0 OR {a_tot} = n OR t1 = 0 OR t2 = 0 OR t3 = 0"
        " OR t4 = 0 OR t5 = 0"
    )
    return f"""
WITH hist AS (
  SELECT {CENTS} AS v, count(*)::BIGINT AS cnt FROM orders GROUP BY 1
),
cum AS (
  SELECT v, sum(cnt) OVER (ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt,
         (SELECT sum(cnt) FROM hist) AS n
  FROM hist
),
med AS (SELECT min(CASE WHEN cum_cnt >= (n + 1) // 2 THEN v END) AS med FROM cum),
cells AS (
  SELECT count(*)::BIGINT AS n, max(med)::BIGINT AS med,
         {", ".join(f"sum(CASE WHEN g = {i} AND c > med THEN 1 ELSE 0 END)::BIGINT AS a{i}" for i in range(1, 6))},
         {", ".join(f"sum(CASE WHEN g = {i} THEN 1 ELSE 0 END)::BIGINT AS t{i}" for i in range(1, 6))}
  FROM (SELECT {CENTS} AS c, {PRIO_G_SQL} AS g FROM orders), med
)
SELECT n AS n_orders, med AS grand_median_cents, 4::BIGINT AS df,
       CASE WHEN {guard} THEN NULL ELSE CAST({chi2} AS BIGINT) END AS chi2_micro
FROM cells
"""


# --------------------------------------------------------------------------
# hodges_lehmann_shift
# --------------------------------------------------------------------------


def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann estimate of the weekend-vs-weekday shift in
    daily event revenue: the lower median of ALL pairwise differences
    (weekend day − weekday day), the estimator the Mann–Whitney test
    ([[mann_whitney_u_test]]) implicitly inverts — rank tests say
    "the groups differ", HL says BY HOW MANY CENTS, with the same
    immunity to a single blowout day that a difference of means does
    not have. Weekday parity uses the engine-neutral Monday=0
    convention (epoch_day + 3) % 7 — never dayofweek().

    Exactness: daily revenues are exact cent sums; the pair
    differences are exact integers; the lower median is the exact
    rank-⌈m/2⌉ element of the difference multiset, selected from the
    difference histogram by cumulative count — no interpolation, no
    float ordering.

    Scale: both day groups are calendar-bounded (≤ a few thousand
    rows at ANY corpus size — the [[kendall_tau_daily]] doctrine), so
    the pair stage is a broadcast nested-loop join of bounded
    relations producing a bounded (~0.1·days²) multiset; the median
    walk runs on its value histogram via the prefix kernel."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(F.sum(F.expr(VCENTS)).alias("y"))
        .withColumn("is_we", F.expr("(d + 3) % 7 >= 5"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    we = daily.filter("is_we").select(F.col("y").alias("yw"))
    wd = daily.filter("NOT is_we").select(F.col("y").alias("yd"))
    counts = we.agg(F.count(F.lit(1)).alias("n_we")).crossJoin(
        wd.agg(F.count(F.lit(1)).alias("n_wd"))
    )
    diffs = (
        we.crossJoin(F.broadcast(wd))
        .groupBy(F.expr("yw - yd").alias("diff"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # freeze_input=False: diffs re-aggregates the checkpointed day relations
    cum = ranged_prefix(diffs, [F.col("diff")], sum_cols=["cnt"], freeze_input=False)
    hl = (
        cum.crossJoin(F.broadcast(counts))
        .agg(
            F.min(
                F.when(
                    F.expr("cum_cnt >= (n_we * n_wd + 1) div 2"), F.col("diff")
                )
            ).alias("hl")
        )
    )
    return counts.crossJoin(F.broadcast(hl)).select(
        F.col("n_we").cast("bigint").alias("n_weekend_days"),
        F.col("n_wd").cast("bigint").alias("n_weekday_days"),
        F.expr("CAST(n_we AS BIGINT) * n_wd").alias("n_pairs"),
        F.col("hl").cast("bigint").alias("hl_shift_cents"),
    )


_HL_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
  FROM events GROUP BY 1
),
we AS (SELECT y AS yw FROM daily WHERE (d + 3) % 7 >= 5),
wd AS (SELECT y AS yd FROM daily WHERE (d + 3) % 7 < 5),
counts AS (
  SELECT (SELECT count(*) FROM we)::BIGINT AS n_we,
         (SELECT count(*) FROM wd)::BIGINT AS n_wd
),
diffs AS (
  SELECT yw - yd AS diff, count(*)::BIGINT AS cnt
  FROM we CROSS JOIN wd GROUP BY 1
),
cum AS (
  SELECT diff, sum(cnt) OVER (ORDER BY diff
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
  FROM diffs
),
hl AS (
  SELECT min(CASE WHEN cum_cnt >= (n_we * n_wd + 1) // 2 THEN diff END) AS hl
  FROM cum, counts
)
SELECT n_we AS n_weekend_days, n_wd AS n_weekday_days,
       CAST(n_we * n_wd AS BIGINT) AS n_pairs,
       CAST(hl AS BIGINT) AS hl_shift_cents
FROM counts, hl
"""


# --------------------------------------------------------------------------
# granger_value_leads_volume
# --------------------------------------------------------------------------


def _granger_final_exprs() -> dict[str, str]:
    """Output expressions over the shared sufficient-statistic column
    names (n, sy, sa, sb, syy, saa, sbb, say, sab, sby) — ONE text,
    spliced into both engines, so the final IEEE DAG is bit-identical.
    Cofactor products are formed in DOUBLE (exact integer sums cast
    once) because adj(M) entries square corpus-sized sums — the same
    100 TB overflow posture as the Cochran-Q DECIMAL comment."""
    d = {c: f"CAST({c} AS DOUBLE)" for c in
         ["n", "sy", "sa", "sb", "syy", "saa", "sbb", "say", "sab", "sby"]}
    c11 = f"({d['saa']} * {d['sbb']} - {d['sab']} * {d['sab']})"
    c12 = f"(-({d['sa']} * {d['sbb']} - {d['sab']} * {d['sb']}))"
    c13 = f"({d['sa']} * {d['sab']} - {d['saa']} * {d['sb']})"
    c22 = f"({d['n']} * {d['sbb']} - {d['sb']} * {d['sb']})"
    c23 = f"(-({d['n']} * {d['sab']} - {d['sa']} * {d['sb']}))"
    c33 = f"({d['n']} * {d['saa']} - {d['sa']} * {d['sa']})"
    det_f = f"({d['n']} * {c11} + {d['sa']} * {c12} + {d['sb']} * {c13})"
    qf = (
        f"({d['sy']} * {d['sy']} * {c11} + {d['say']} * {d['say']} * {c22}"
        f" + {d['sby']} * {d['sby']} * {c33}"
        f" + 2 * {d['sy']} * {d['say']} * {c12}"
        f" + 2 * {d['sy']} * {d['sby']} * {c13}"
        f" + 2 * {d['say']} * {d['sby']} * {c23})"
    )
    qr = (
        f"({d['saa']} * {d['sy']} * {d['sy']}"
        f" - 2 * {d['sa']} * {d['sy']} * {d['say']}"
        f" + {d['n']} * {d['say']} * {d['say']})"
    )
    rss_f = f"({d['syy']} - {qf} / {det_f})"
    rss_r = f"({d['syy']} - {qr} / {c33})"
    guard = f"n < 5 OR {det_f} = 0 OR {c33} = 0 OR {rss_f} <= 0"
    return {
        "n_days_used": "CAST(n AS BIGINT)",
        "df_denom": "CAST(n - 3 AS BIGINT)",
        "f_granger": (
            f"CASE WHEN {guard} THEN NULL ELSE"
            f" (({rss_r}) - ({rss_f})) * ({d['n']} - 3) / ({rss_f}) END"
        ),
    }


def granger_value_leads_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality F (lag 1): does yesterday's event VALUE help
    predict today's event VOLUME beyond what yesterday's volume
    already predicts? [[daily_cross_correlation]] reads the raw lagged
    correlation, which autocorrelation alone can fake; Granger's
    nested-OLS F — restricted y_t ~ (1, y_{t−1}) vs full
    y_t ~ (1, y_{t−1}, value_{t−1}) — charges the lagged value for
    the volume's own memory first. Calendar gaps pair each day with
    the previous OBSERVED day (the [[durbin_watson_daily]]
    convention).

    Exactness: the ten sufficient statistics are exact
    DECIMAL(38,0)/HUGEINT aggregates; both RSS values come from the
    closed-form normal equations (Cramer adjugate for the 3×3 Gram
    matrix, spelled symbolically) in ONE identical IEEE DAG — no
    iterative solver, no aggregation-order float sum anywhere.
    Singular designs or a zero full-model RSS → NULL.

    Scale: one day-keyed rollup over events, a lag window on the
    calendar-bounded daily relation, one map-side-combined aggregate
    to ten numbers."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("y"),
            F.sum(F.expr(VCENTS)).alias("v"),
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy(one_group(F.col("d"))).orderBy("d")
    lagged = (
        daily.withColumn("a", F.lag("y").over(w))
        .withColumn("b", F.lag("v").over(w))
        .filter("a IS NOT NULL")
    )
    dec = "CAST({x} AS DECIMAL(38,0))"
    sums = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(dec.format(x="y"))).alias("sy"),
        F.sum(F.expr(dec.format(x="a"))).alias("sa"),
        F.sum(F.expr(dec.format(x="b"))).alias("sb"),
        F.sum(F.expr(dec.format(x="y") + " * y")).alias("syy"),
        F.sum(F.expr(dec.format(x="a") + " * a")).alias("saa"),
        F.sum(F.expr(dec.format(x="b") + " * b")).alias("sbb"),
        F.sum(F.expr(dec.format(x="a") + " * y")).alias("say"),
        F.sum(F.expr(dec.format(x="a") + " * b")).alias("sab"),
        F.sum(F.expr(dec.format(x="b") + " * y")).alias("sby"),
    )
    exprs = _granger_final_exprs()
    return sums.select(*[F.expr(e).alias(k) for k, e in exprs.items()])


def _granger_oracle() -> str:
    exprs = _granger_final_exprs()
    sel = ",\n       ".join(f"{e} AS {k}" for k, e in exprs.items())
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d,
         count(*)::BIGINT AS y,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
  FROM events GROUP BY 1
),
lagged AS (
  SELECT y, lag(y) OVER (ORDER BY d) AS a, lag(v) OVER (ORDER BY d) AS b
  FROM daily
),
sums AS (
  SELECT count(*)::BIGINT AS n,
         sum(y::HUGEINT) AS sy, sum(a::HUGEINT) AS sa, sum(b::HUGEINT) AS sb,
         sum(y::HUGEINT * y) AS syy, sum(a::HUGEINT * a) AS saa,
         sum(b::HUGEINT * b) AS sbb, sum(a::HUGEINT * y) AS say,
         sum(a::HUGEINT * b) AS sab, sum(b::HUGEINT * y) AS sby
  FROM lagged WHERE a IS NOT NULL
)
SELECT {sel}
FROM sums
"""


# --------------------------------------------------------------------------
# kpss_level_daily
# --------------------------------------------------------------------------


def kpss_level_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic on daily event counts — the
    opposite null to the trend family: [[mann_kendall_trend_test]]
    rejects toward "there IS a trend"; KPSS rejects toward "this is
    NOT stationary around a level". η = (1/n²)·ΣS_t²/σ̂² over the
    partial sums S_t of demeaned counts (lag-0 / bandwidth-0 variance
    — the short-memory simplification, documented; the HAC-bandwidth
    refinement changes the denominator only). Large η (≳0.46 at 5%)
    says the level wanders.

    Exactness: with the partial sums scaled by n
    (S′_t = n·C_t − t·Σy, all integers), η is the pure integer ratio
    ΣS′_t² / (n²·(n·Σy² − (Σy)²)) reported in truncating
    micro-units — no float exists anywhere in this statistic.

    Scale: one day-keyed rollup; the running sum is a window on the
    calendar-bounded daily relation (sanctioned via ``one_group``);
    products ride DECIMAL(38,0)/HUGEINT."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy(one_group(F.col("d"))).orderBy("d")
    cum = daily.select(
        F.row_number().over(w).alias("t"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("c"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.max("syy").alias("syy"),
        F.sum(
            F.expr(
                "(CAST(n AS DECIMAL(38,0)) * c - CAST(t AS DECIMAL(38,0)) * sy)"
                " * (CAST(n AS DECIMAL(38,0)) * c - CAST(t AS DECIMAL(38,0)) * sy)"
            )
        ).alias("s2sum"),
    )
    return terms.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr(
            "CASE WHEN n < 2 OR n * syy - sy * sy <= 0 THEN NULL ELSE"
            " CAST((1000000 * s2sum)"
            " div (CAST(n AS DECIMAL(38,0)) * n * (n * syy - sy * sy))"
            " AS BIGINT) END"
        ).alias("kpss_micro"),
    )


_KPSS_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d, count(*)::BIGINT AS y
  FROM events GROUP BY 1
),
cum AS (
  SELECT row_number() OVER (ORDER BY d) AS t,
         sum(y) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM daily
),
tot AS (
  SELECT count(*)::BIGINT AS n, sum(y::HUGEINT) AS sy,
         sum(y::HUGEINT * y) AS syy
  FROM daily
),
terms AS (
  SELECT max(n) AS n, max(sy) AS sy, max(syy) AS syy,
         sum((n::HUGEINT * c - t::HUGEINT * sy)
             * (n::HUGEINT * c - t::HUGEINT * sy)) AS s2sum
  FROM cum, tot
)
SELECT CAST(n AS BIGINT) AS n_days,
       CASE WHEN n < 2 OR n * syy - sy * sy <= 0 THEN NULL ELSE
         CAST((1000000 * s2sum) // (n::HUGEINT * n * (n * syy - sy * sy))
              AS BIGINT) END AS kpss_micro
FROM terms
"""


# --------------------------------------------------------------------------
# seasonal_mann_kendall
# --------------------------------------------------------------------------


def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann–Kendall (Hirsch–Slack) on daily order revenue:
    the MK sign statistic summed WITHIN each calendar-month stratum
    (January days compare only to January days), so a strong annual
    cycle cannot masquerade as — or drown — a long-run monotone
    trend. The seasonal referee for [[mann_kendall_trend_test]]'s
    whole-series verdict; month() on a session-UTC timestamp is the
    one calendar extraction both engines agree on (the dayofweek trap
    does not apply).

    Exactness: S is an exact integer sign sum; Var×18 is the exact
    per-stratum tie-corrected integer (Σ_m n_m(n_m−1)(2n_m+5) − the
    within-stratum value-tie term), and the continuity-corrected z is
    the one shared IEEE sqrt DAG.

    Scale: the within-month pair join is strata-blocked (each month's
    days only — smaller than the whole-series MK pair stage, same
    calendar-bounded doctrine); tie terms are two slim rollups."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.expr("month(o_orderdate)").alias("m"),
            F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("d"),
        )
        .agg(F.sum(F.expr(CENTS)).alias("r"))
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    s_agg = a.join(
        b, (F.col("a.m") == F.col("b.m")) & (F.col("a.d") < F.col("b.d"))
    ).agg(
        F.coalesce(F.sum(F.expr("CAST(sign(b.r - a.r) AS BIGINT)")), F.lit(0)).alias(
            "s_stat"
        )
    )
    per_m = daily.groupBy("m").agg(F.count(F.lit(1)).alias("nm"))
    var_base = per_m.agg(
        F.count(F.lit(1)).alias("n_seasons"),
        F.sum("nm").alias("n_days"),
        F.coalesce(
            F.sum(
                F.col("nm").cast("decimal(38,0)")
                * (F.col("nm") - 1)
                * (2 * F.col("nm") + 5)
            ),
            F.lit(0),
        ).alias("base_term"),
    )
    ties = daily.groupBy("m", "r").agg(F.count(F.lit(1)).alias("t"))
    tie_sum = ties.agg(
        F.coalesce(
            F.sum(
                F.col("t").cast("decimal(38,0)") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ),
            F.lit(0),
        ).alias("tie_term")
    )
    stat = var_base.crossJoin(F.broadcast(s_agg)).crossJoin(F.broadcast(tie_sum))
    return stat.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_seasons").cast("bigint").alias("n_seasons"),
        F.col("s_stat"),
        F.expr("CAST(base_term - tie_term AS BIGINT)").alias("var_s_x18"),
        F.expr(
            "CASE WHEN base_term - tie_term <= 0 THEN NULL"
            " WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)"
            "   / sqrt(CAST(base_term - tie_term AS DOUBLE) / 18.0)"
            " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)"
            "   / sqrt(CAST(base_term - tie_term AS DOUBLE) / 18.0)"
            " ELSE 0.0 END"
        ).alias("z_stat"),
    )


_SEASONAL_MK_SQL = f"""
WITH daily AS (
  SELECT month(o_orderdate) AS m,
         epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS d,
         sum({CENTS})::BIGINT AS r
  FROM orders GROUP BY 1, 2
),
s_agg AS (
  SELECT coalesce(sum(CAST(sign(b.r - a.r) AS BIGINT)), 0)::BIGINT AS s_stat
  FROM daily a JOIN daily b ON a.m = b.m AND a.d < b.d
),
var_base AS (
  SELECT count(*)::BIGINT AS n_seasons, sum(nm)::BIGINT AS n_days,
         coalesce(sum(nm::HUGEINT * (nm - 1) * (2 * nm + 5)), 0) AS base_term
  FROM (SELECT m, count(*)::BIGINT AS nm FROM daily GROUP BY m)
),
tie_sum AS (
  SELECT coalesce(sum(t::HUGEINT * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT m, r, count(*)::BIGINT AS t FROM daily GROUP BY m, r)
)
SELECT n_days, n_seasons, s_stat,
       CAST(base_term - tie_term AS BIGINT) AS var_s_x18,
       CASE WHEN base_term - tie_term <= 0 THEN NULL
            WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
              / sqrt(CAST(base_term - tie_term AS DOUBLE) / 18.0)
            WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
              / sqrt(CAST(base_term - tie_term AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_stat
FROM var_base, s_agg, tie_sum
"""


# --------------------------------------------------------------------------
# ansari_bradley_dispersion
# --------------------------------------------------------------------------


def ansari_bradley_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari–Bradley rank-dispersion test on the md5 A/A arms —
    [[welch_t_ab]] asks whether the arms' MEANS differ; AB asks
    whether one arm's per-user revenue is more SPREAD OUT, ranking
    from both ends inward (extremes score low, the middle scores
    high), with midrank scores on ties. The dispersion leg every A/B
    readout needs before trusting a variance-pooled test.

    Exactness: doubled midrank scores
    score2 = min(2·rank2, 2(N+1) − rank2-form) stay integral; AB,
    Σscore, and Σscore² are exact DECIMAL(38,0)/HUGEINT aggregates;
    the permutation-null z uses the EXACT conditional moments for the
    score multiset actually used (E = m·Σa/N,
    Var = m·n₂(N·Σa² − (Σa)²)/(N²(N−1)) — valid for ANY fixed score
    assignment, so the midrank convention needs no asymptotic
    apology), in one identical IEEE DAG where the doubling cancels.

    Scale: one user-keyed rollup, one cent-value histogram, the
    range-partitioned prefix kernel for ranks — no single-partition
    window, no pair join."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr(VCENTS).alias("cents")
    )
    per_user = ev.groupBy("user_id").agg(F.sum("cents").alias("cents"))
    armed = per_user.withColumn(
        "arm",
        h32(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))) % 2,
    )
    hist = armed.groupBy(F.col("cents").alias("v")).agg(
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("n0"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("n1"),
    ).withColumn("t", F.expr("n0 + n1"))
    # totals from `cum`, not `hist`: the kernel freezes its input, but
    # a separate hist consumer re-runs the whole events→per-user→arm
    # rollup chain a second time per cycle (guide §1.2; same integer
    # sums — cum carries every hist column unchanged). cum itself is
    # checkpointed so its two consumers (tot, sums) share one
    # window+offset-join evaluation.
    cum = ranged_prefix(hist, [F.col("v")], sum_cols=["t"]).localCheckpoint(
        eager=False
    )
    tot = cum.agg(
        F.coalesce(F.sum("n0"), F.lit(0)).alias("nn0"),
        F.coalesce(F.sum("n1"), F.lit(0)).alias("nn1"),
    )
    score2 = (
        "least(2 * cum_t - t + 1,"
        " 2 * (nn0 + nn1 + 1) - (2 * cum_t - t + 1))"
    )
    sums = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("nn0").alias("nn0"),
        F.max("nn1").alias("nn1"),
        F.sum(F.expr(f"CAST(n1 AS DECIMAL(38,0)) * ({score2})")).alias("ab2"),
        F.sum(F.expr(f"CAST(t AS DECIMAL(38,0)) * ({score2})")).alias("sa2"),
        F.sum(
            F.expr(f"CAST(t AS DECIMAL(38,0)) * ({score2}) * ({score2})")
        ).alias("saa4"),
    )
    nN = "CAST(nn0 + nn1 AS DOUBLE)"
    var = (
        f"(CAST(nn1 AS DOUBLE) * CAST(nn0 AS DOUBLE)"
        f" * ({nN} * CAST(saa4 AS DOUBLE) - CAST(sa2 AS DOUBLE) * CAST(sa2 AS DOUBLE))"
        f" / ({nN} * {nN} * ({nN} - 1)))"
    )
    return sums.select(
        F.col("nn0").cast("bigint").alias("n_ctrl"),
        F.col("nn1").cast("bigint").alias("n_treat"),
        F.expr("CAST(ab2 AS BIGINT)").alias("ab_x2"),
        F.expr(
            f"CASE WHEN nn0 = 0 OR nn1 = 0 OR nn0 + nn1 < 2 OR {var} <= 0"
            f" THEN NULL ELSE"
            f" (CAST(ab2 AS DOUBLE) - CAST(nn1 AS DOUBLE) * CAST(sa2 AS DOUBLE)"
            f" / {nN}) / sqrt({var}) END"
        ).alias("ab_z"),
    )


def _ansari_oracle() -> str:
    arm = h32_sql("'cuped:' || user_id::VARCHAR") + " % 2"
    score2 = (
        "least(2 * cum_t - t + 1,"
        " 2 * (nn0 + nn1 + 1) - (2 * cum_t - t + 1))"
    )
    nN = "CAST(nn0 + nn1 AS DOUBLE)"
    var = (
        f"(CAST(nn1 AS DOUBLE) * CAST(nn0 AS DOUBLE)"
        f" * ({nN} * CAST(saa4 AS DOUBLE) - CAST(sa2 AS DOUBLE) * CAST(sa2 AS DOUBLE))"
        f" / ({nN} * {nN} * ({nN} - 1)))"
    )
    return f"""
WITH per_user AS (
  SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
  FROM events GROUP BY 1
),
armed AS (SELECT cents, {arm} AS arm FROM per_user),
hist AS (
  SELECT cents AS v,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         count(*)::BIGINT AS t
  FROM armed GROUP BY 1
),
cum AS (
  SELECT *, sum(t) OVER (ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t
  FROM hist
),
tot AS (
  SELECT coalesce(sum(n0), 0)::BIGINT AS nn0,
         coalesce(sum(n1), 0)::BIGINT AS nn1
  FROM hist
),
sums AS (
  SELECT max(nn0) AS nn0, max(nn1) AS nn1,
         sum(n1::HUGEINT * ({score2})) AS ab2,
         sum(t::HUGEINT * ({score2})) AS sa2,
         sum(t::HUGEINT * ({score2}) * ({score2})) AS saa4
  FROM cum, tot
)
SELECT CAST(nn0 AS BIGINT) AS n_ctrl, CAST(nn1 AS BIGINT) AS n_treat,
       CAST(ab2 AS BIGINT) AS ab_x2,
       CASE WHEN nn0 = 0 OR nn1 = 0 OR nn0 + nn1 < 2 OR {var} <= 0 THEN NULL ELSE
         (CAST(ab2 AS DOUBLE) - CAST(nn1 AS DOUBLE) * CAST(sa2 AS DOUBLE)
          / {nN}) / sqrt({var}) END AS ab_z
FROM sums
"""


# --------------------------------------------------------------------------
# partial_corr_volume_value
# --------------------------------------------------------------------------


def _partial_corr_exprs() -> dict[str, str]:
    """Shared final-DAG text over (n, sx, sy, sz, sxx, syy, szz, sxy,
    sxz, syz): three pairwise correlations and the first-order partial
    r_xy·z — identical in both engines."""
    d = {c: f"CAST({c} AS DOUBLE)" for c in
         ["n", "sx", "sy", "sz", "sxx", "syy", "szz", "sxy", "sxz", "syz"]}

    def r(ab, a, b, aa, bb):
        num = f"({d['n']} * {d[ab]} - {d[a]} * {d[b]})"
        den = (
            f"sqrt(({d['n']} * {d[aa]} - {d[a]} * {d[a]})"
            f" * ({d['n']} * {d[bb]} - {d[b]} * {d[b]}))"
        )
        return num, den

    nxy, dxy = r("sxy", "sx", "sy", "sxx", "syy")
    nxz, dxz = r("sxz", "sx", "sz", "sxx", "szz")
    nyz, dyz = r("syz", "sy", "sz", "syy", "szz")
    vg = (
        f"({d['n']} * {d['sxx']} - {d['sx']} * {d['sx']}) <= 0"
        f" OR ({d['n']} * {d['syy']} - {d['sy']} * {d['sy']}) <= 0"
        f" OR ({d['n']} * {d['szz']} - {d['sz']} * {d['sz']}) <= 0"
    )
    rxy, rxz, ryz = f"({nxy} / {dxy})", f"({nxz} / {dxz})", f"({nyz} / {dyz})"
    pden = f"((1 - {rxz} * {rxz}) * (1 - {ryz} * {ryz}))"
    return {
        "n_days": "CAST(n AS BIGINT)",
        "r_xy": f"CASE WHEN {vg} THEN NULL ELSE {rxy} END",
        "r_xz": f"CASE WHEN {vg} THEN NULL ELSE {rxz} END",
        "r_yz": f"CASE WHEN {vg} THEN NULL ELSE {ryz} END",
        "partial_r_xy_given_day": (
            f"CASE WHEN {vg} OR {pden} <= 0 THEN NULL ELSE"
            f" ({rxy} - {rxz} * {ryz}) / sqrt({pden}) END"
        ),
    }


def partial_corr_volume_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of daily event VOLUME and
    daily event VALUE, controlling for the day index — is the
    volume↔value relationship [[daily_cross_correlation]] reports
    real co-movement, or two series independently drifting with time?
    The classic spurious-correlation referee: r_xy·t strips the shared
    linear time trend from both series before correlating what's
    left.

    Exactness: all ten sufficient statistics are exact integer
    aggregates; the three Pearson r's and the partial are ONE shared
    IEEE DAG text spliced into both engines (correctly-rounded sqrt
    only). Degenerate variances or |r| = 1 legs → NULL.

    Scale: one day-keyed rollup, one aggregate — the same two-job
    shape as [[durbin_watson_daily]]."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("z")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.expr(VCENTS)).alias("y"),
    )
    dec = "CAST({a} AS DECIMAL(38,0))"
    sums = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(dec.format(a="x"))).alias("sx"),
        F.sum(F.expr(dec.format(a="y"))).alias("sy"),
        F.sum(F.expr(dec.format(a="z"))).alias("sz"),
        F.sum(F.expr(dec.format(a="x") + " * x")).alias("sxx"),
        F.sum(F.expr(dec.format(a="y") + " * y")).alias("syy"),
        F.sum(F.expr(dec.format(a="z") + " * z")).alias("szz"),
        F.sum(F.expr(dec.format(a="x") + " * y")).alias("sxy"),
        F.sum(F.expr(dec.format(a="x") + " * z")).alias("sxz"),
        F.sum(F.expr(dec.format(a="y") + " * z")).alias("syz"),
    )
    exprs = _partial_corr_exprs()
    return sums.select(*[F.expr(e).alias(k) for k, e in exprs.items()])


def _partial_corr_oracle() -> str:
    exprs = _partial_corr_exprs()
    sel = ",\n       ".join(f"{e} AS {k}" for k, e in exprs.items())
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS z,
         count(*)::BIGINT AS x,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
  FROM events GROUP BY 1
),
sums AS (
  SELECT count(*)::BIGINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy, sum(z::HUGEINT) AS sz,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(z::HUGEINT * z) AS szz, sum(x::HUGEINT * y) AS sxy,
         sum(x::HUGEINT * z) AS sxz, sum(y::HUGEINT * z) AS syz
  FROM daily
)
SELECT {sel}
FROM sums
"""


QUERIES = (
    (friedman_daily_event_types, _FRIEDMAN_SQL),
    (jonckheere_terpstra_priority, _jt_oracle()),
    (cochran_armitage_trend, _CA_SQL),
    (durbin_watson_daily, _DW_SQL),
    (welch_t_ab, _welch_oracle()),
    (mood_median_test, _mood_oracle()),
    (hodges_lehmann_shift, _HL_SQL),
    (granger_value_leads_volume, _granger_oracle()),
    (kpss_level_daily, _KPSS_SQL),
    (seasonal_mann_kendall, _SEASONAL_MK_SQL),
    (ansari_bradley_dispersion, _ansari_oracle()),
    (partial_corr_volume_value, _partial_corr_oracle()),
)
