"""Distribution-distance and sequence-diagnostic statistics — the
round-9 batch: Cramér–von Mises two-sample distance, Bhattacharyya
histogram overlap, the Ljung–Box autocorrelation portmanteau, Page's
ordered-trend L, and Grubbs' single-outlier test.

[beyond-reference] per SURVEY.md §2.2: the reference
(antonylucas/rdbms-metadata-manager, app.py — a 5-rule metadata
linter) has no statistical surface; these extend the existing ladder
along the axes it still lacked — [[cogroup_balance_ks]] reads the
WORST point of a CDF gap (KS), [[cramer_von_mises_weekend]] integrates
the WHOLE gap (CvM is the L2 companion to KS's L∞, strictly more
sensitive to broad shifts); [[bhattacharyya_weekend_overlap]] reads
the same two distributions as density OVERLAP (the Hellinger-affinity
view used for drift gates); [[autocorr_daily_events]] reports one lag
and [[durbin_watson_daily]] lag-1 residuals —
[[ljung_box_daily_events]] pools the first 7 lags into the single
portmanteau Q every forecasting pipeline gates on;
[[friedman_daily_event_types]] asks "do the weekly rankings differ?",
[[page_trend_weekly_events]] asks the sharper "do they AGREE with the
global ordering?"; [[outlier_customers_iqr]] fences per-group values,
[[grubbs_outlier_daily_revenue]] is the classical max-studentized-
deviation test on the daily revenue series itself.

Determinism doctrine (README "Correctness strategy"): sufficient
statistics are exact integers on both engines (counts, cent sums,
doubled midranks); products ride DECIMAL(38,0)/HUGEINT; every final
float is ONE identical IEEE scalar DAG over those exact integers
(+,-,*,/ and correctly-rounded sqrt only — never libm), fixed-length
float sums are literal left-associated chains (identical parse tree ⇒
identical doubles), and open-ended float sums are per-term
micro-floored before an exact integer sum (the CMH lever).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import DAY_SECONDS, load
from .prefix import one_group, ranged_prefix

CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
ODAY = f"unix_timestamp(o_orderdate) div {DAY_SECONDS}"
ODAY_SQL = f"epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS}"
# engine-neutral Monday=0 weekday parity: (epoch_day + 3) % 7 — never
# dayofweek(), whose Sunday origin differs across engines
WEEKEND = "((d + 3) % 7 >= 5)"


# --------------------------------------------------------------------------
# cramer_von_mises_weekend
# --------------------------------------------------------------------------


def cramer_von_mises_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises two-sample distance between weekend and
    weekday order values: T = (nm/N²)·Σ_x w_x·(F_we(x) − F_wd(x))²
    summed over the combined sample points (the tie-adjusted CDF form,
    Anderson 1962). KS ([[cogroup_balance_ks]]) reads only the single
    worst CDF gap; CvM integrates the squared gap across the whole
    support, so a broad but nowhere-extreme shift (exactly what a
    day-of-week pricing effect looks like) scores here and not there.

    Exactness: per-cent-value counts a_x/b_x and their prefix sums
    A_x/B_x are exact integers; (F_we − F_wd)² = (m·A_x − n·B_x)²/(nm)²
    keeps every term an exact DECIMAL(38,0) product, so
    T = Σ w_x·(m·A_x − n·B_x)² / (n·m·N²) is ONE exact integer ratio
    reported in truncating micro units. No floats anywhere. (At
    extreme corpus sizes the exact integer path outgrows 38 digits —
    the documented fallback is the same statistic over per-mille CDF
    units, which stays exact to the reported precision.)

    Scale: one groupBy(cent value) histogram with conditional counts
    (the only pass over orders), prefix sums via the range-partitioned
    ``ranged_prefix`` kernel — no single-partition window — and one
    map-side-combined final rollup; the histogram is bounded by the
    price domain, not the corpus."""
    orders = load(spark, sf_dir, "orders").select(
        F.expr(CENTS).alias("v"), F.expr(f"({ODAY})").alias("d")
    )
    hist = (
        orders.withColumn("we", F.expr(WEEKEND))
        .groupBy("v")
        .agg(
            F.sum(F.expr("CASE WHEN we THEN 1 ELSE 0 END")).alias("a"),
            F.sum(F.expr("CASE WHEN we THEN 0 ELSE 1 END")).alias("b"),
        )
    )
    # totals from `cum`, not `hist`: the kernel freezes its input, but
    # a separate hist consumer re-runs the raw orders rollup — reading
    # the kernel output instead re-uses the materialized histogram
    # (guide §1.2; same values, Σa/Σb are order-free integer sums).
    # cum itself is checkpointed so its two consumers (totals, the
    # final rollup) share one window+offset-join evaluation.
    cum = ranged_prefix(hist, [F.col("v")], sum_cols=["a", "b"]).localCheckpoint(
        eager=False
    )
    totals = cum.agg(
        F.sum("a").cast("long").alias("n_we"), F.sum("b").cast("long").alias("n_wd")
    )
    diff = (
        "(CAST(n_wd AS DECIMAL(38,0)) * cum_a - CAST(n_we AS DECIMAL(38,0)) * cum_b)"
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n_we").alias("n_we"),
            F.max("n_wd").alias("n_wd"),
            F.sum(F.expr(f"CAST(a + b AS DECIMAL(38,0)) * {diff} * {diff}")).alias(
                "t_num"
            ),
        )
        .select(
            F.col("n_we").cast("bigint").alias("n_weekend"),
            F.col("n_wd").cast("bigint").alias("n_weekday"),
            F.expr(
                "CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL ELSE"
                " CAST((1000000 * t_num)"
                " div (CAST(n_we AS DECIMAL(38,0)) * n_wd * (n_we + n_wd)"
                "      * (n_we + n_wd)) AS BIGINT) END"
            ).alias("t_cvm_micro"),
        )
    )


_CVM_SQL = f"""
WITH o AS (
  SELECT {CENTS} AS v, {ODAY_SQL} AS d
  FROM orders
),
hist AS (
  SELECT v,
         sum(CASE WHEN {WEEKEND} THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN {WEEKEND} THEN 0 ELSE 1 END)::BIGINT AS b
  FROM o GROUP BY v
),
cum AS (
  SELECT v, a, b,
         sum(a) OVER w AS cum_a, sum(b) OVER w AS cum_b
  FROM hist
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT sum(a)::BIGINT AS n_we, sum(b)::BIGINT AS n_wd FROM hist),
s AS (
  SELECT max(n_we)::BIGINT AS n_we, max(n_wd)::BIGINT AS n_wd,
         sum((a + b)::HUGEINT
             * (n_wd::HUGEINT * cum_a - n_we::HUGEINT * cum_b)
             * (n_wd::HUGEINT * cum_a - n_we::HUGEINT * cum_b)) AS t_num
  FROM cum, tot
)
SELECT n_we AS n_weekend, n_wd AS n_weekday,
       CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL ELSE
         CAST((1000000 * t_num)
              // (n_we::HUGEINT * n_wd * (n_we + n_wd) * (n_we + n_wd))
            AS BIGINT) END AS t_cvm_micro
FROM s
"""


# --------------------------------------------------------------------------
# bhattacharyya_weekend_overlap
# --------------------------------------------------------------------------

BHATT_BAND_W = 2_500_000  # $25k price bands → ~24 bands over the TPC-H domain


def bhattacharyya_weekend_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bhattacharyya coefficient between the weekend and weekday
    order-value BAND histograms: BC = Σ_band sqrt(p_band·q_band),
    1 for identical distributions, 0 for disjoint support; the squared
    Hellinger distance 1 − BC rides along. The density-overlap
    complement of [[cramer_von_mises_weekend]]: CvM reads CDF
    displacement (where did the mass MOVE), BC reads how much mass the
    two regimes still SHARE — the number drift monitors threshold.

    Exactness: band counts a/b and totals n/m are exact integers;
    each band's sqrt((a·b)/(n·m)) is ONE identical IEEE DAG (exact
    integer products cast once to double; sqrt is correctly rounded
    by IEEE-754), micro-floored to an integer BEFORE the band sum
    (the CMH per-term lever — the open-ended float sum is never
    accumulated in float), so BC and 1 − BC are exact integers in
    micro units.

    Scale: one groupBy(band) conditional rollup (map-side combined,
    band dictionary bounded by the price domain: ~24 rows at any
    corpus size) and a broadcast of the 1-row totals."""
    orders = load(spark, sf_dir, "orders").select(
        F.expr(f"({CENTS}) div {BHATT_BAND_W}").alias("band"),
        F.expr(f"({ODAY})").alias("d"),
    )
    bands = (
        orders.withColumn("we", F.expr(WEEKEND))
        .groupBy("band")
        .agg(
            F.sum(F.expr("CASE WHEN we THEN 1 ELSE 0 END")).alias("a"),
            F.sum(F.expr("CASE WHEN we THEN 0 ELSE 1 END")).alias("b"),
        )
    )
    totals = bands.agg(
        F.sum("a").cast("long").alias("n_we"), F.sum("b").cast("long").alias("n_wd")
    )
    term = (
        "CAST(floor(1000000.0 * sqrt((CAST(a AS DOUBLE) * CAST(b AS DOUBLE))"
        " / (CAST(n_we AS DOUBLE) * CAST(n_wd AS DOUBLE)))) AS BIGINT)"
    )
    return (
        bands.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n_we").alias("n_we"),
            F.max("n_wd").alias("n_wd"),
            F.count(F.lit(1)).alias("n_bands"),
            F.sum(F.expr(f"CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL ELSE {term} END")).alias(
                "bc"
            ),
        )
        .select(
            F.col("n_we").cast("bigint").alias("n_weekend"),
            F.col("n_wd").cast("bigint").alias("n_weekday"),
            F.col("n_bands").cast("bigint").alias("n_bands"),
            F.col("bc").cast("bigint").alias("bc_micro"),
            F.expr("CAST(1000000 - bc AS BIGINT)").alias("hellinger_sq_micro"),
        )
    )


_BHATT_SQL = f"""
WITH o AS (
  SELECT ({CENTS}) // {BHATT_BAND_W} AS band, {ODAY_SQL} AS d FROM orders
),
bands AS (
  SELECT band,
         sum(CASE WHEN {WEEKEND} THEN 1 ELSE 0 END)::BIGINT AS a,
         sum(CASE WHEN {WEEKEND} THEN 0 ELSE 1 END)::BIGINT AS b
  FROM o GROUP BY band
),
tot AS (SELECT sum(a)::BIGINT AS n_we, sum(b)::BIGINT AS n_wd FROM bands),
s AS (
  SELECT max(n_we)::BIGINT AS n_we, max(n_wd)::BIGINT AS n_wd,
         count(*)::BIGINT AS n_bands,
         sum(CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL ELSE
           CAST(floor(1000000.0 * sqrt((CAST(a AS DOUBLE) * CAST(b AS DOUBLE))
                / (CAST(n_we AS DOUBLE) * CAST(n_wd AS DOUBLE)))) AS BIGINT)
           END) AS bc
  FROM bands, tot
)
SELECT n_we AS n_weekend, n_wd AS n_weekday, n_bands,
       CAST(bc AS BIGINT) AS bc_micro,
       CAST(1000000 - bc AS BIGINT) AS hellinger_sq_micro
FROM s
"""


# --------------------------------------------------------------------------
# ljung_box_daily_events
# --------------------------------------------------------------------------

LB_LAGS = 7  # one week of lags on the daily series


def _lb_rho(k: int) -> str:
    return f"(CAST(c{k} AS DOUBLE) / CAST(c0 AS DOUBLE))"


def _lb_q() -> str:
    terms = " + ".join(
        f"({_lb_rho(k)} * {_lb_rho(k)} / (CAST(n AS DOUBLE) - {k}.0))"
        for k in range(1, LB_LAGS + 1)
    )
    return (
        f"CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ({terms})"
    )


def ljung_box_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau on the daily event-count series:
    Q = n(n+2)·Σ_{k=1..7} ρ_k²/(n−k) pools the first week of
    autocorrelations into the single is-this-white-noise statistic
    every forecasting pipeline gates residuals on.
    [[autocorr_daily_events]] reads one lag in isolation;
    [[durbin_watson_daily]] reads lag-1 of OLS residuals; Q is the
    joint test that catches seasonality smeared across several small
    lags (χ²₇ under the null, ~14.07 at 5%).

    Exactness: with S = Σx over the n observed days, each
    autocovariance is the exact integer c_k = Σ_t (n·x_t − S)
    (n·x_{t+k} − S) on DECIMAL(38,0)/HUGEINT (the mean never
    materializes as a float); each ρ_k is ONE double division of two
    exact integers, and Q is a single literal left-associated
    7-term IEEE chain over them — identical parse tree on both
    engines ⇒ identical bits. A constant series (c0 = 0) or n ≤ 8 →
    NULL.

    Scale: one day-keyed rollup over events (the only pass over raw
    data); the lag join runs on the calendar-bounded daily relation
    (≤ a few thousand rows at ANY corpus size — the kendall_tau_daily
    doctrine) against an exploded 7-literal lag spine."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        # calendar-bounded relation: the one-group row_number is the
        # sanctioned ≤K-row case (see prefix.one_group)
        .withColumn(
            "i", F.row_number().over(Window.partitionBy(one_group(F.col("d"))).orderBy("d"))
        )
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("s"),
    )
    a = daily.crossJoin(F.broadcast(tot))
    dev = "(CAST(n AS DECIMAL(38,0)) * {c} - s)"
    c0 = a.agg(
        F.sum(F.expr(f"{dev.format(c='x')} * {dev.format(c='x')}")).alias("c0")
    )
    lags = a.select(
        "i", "x", "n", "s", F.explode(F.expr(f"sequence(1, {LB_LAGS})")).alias("k")
    ).withColumn("j", F.expr("i + k"))
    b = daily.select(F.col("i").alias("j"), F.col("x").alias("xb"))
    ck = (
        lags.join(b, "j")
        .groupBy("k")
        .agg(F.sum(F.expr(f"{dev.format(c='x')} * {dev.format(c='xb')}")).alias("c"))
    )
    pivot = ck.agg(
        *[
            F.sum(F.expr(f"CASE WHEN k = {k} THEN c ELSE 0 END")).alias(f"c{k}")
            for k in range(1, LB_LAGS + 1)
        ]
    )
    rho_cols = [
        F.expr(
            f"CASE WHEN n <= {LB_LAGS + 1} OR c0 = 0 THEN NULL ELSE {_lb_rho(k)} END"
        ).alias(f"rho_{k}")
        for k in range(1, LB_LAGS + 1)
    ]
    return (
        tot.crossJoin(F.broadcast(c0))
        .crossJoin(F.broadcast(pivot))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            *rho_cols,
            F.expr(
                f"CASE WHEN n <= {LB_LAGS + 1} OR c0 = 0 THEN NULL"
                f" ELSE {_lb_q()} END"
            ).alias("q_lb"),
        )
    )


def _lb_oracle() -> str:
    dev = "(n::HUGEINT * {c} - s)"
    cks = ",\n       ".join(
        f"sum(CASE WHEN k = {k} THEN c ELSE 0 END) AS c{k}"
        for k in range(1, LB_LAGS + 1)
    )
    rhos = ",\n       ".join(
        f"CASE WHEN n <= {LB_LAGS + 1} OR c0 = 0 THEN NULL ELSE {_lb_rho(k)} END"
        f" AS rho_{k}"
        for k in range(1, LB_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d, count(*)::BIGINT AS x
  FROM events GROUP BY 1
),
idx AS (SELECT d, x, row_number() OVER (ORDER BY d) AS i FROM daily),
tot AS (SELECT count(*)::BIGINT AS n, sum(x::HUGEINT) AS s FROM daily),
c0t AS (
  SELECT sum({dev.format(c="x")} * {dev.format(c="x")}) AS c0
  FROM idx, tot
),
ckt AS (
  SELECT t.k, sum({dev.format(c="a.x")} * {dev.format(c="b.x")}) AS c
  FROM idx a
  JOIN UNNEST(range(1, {LB_LAGS + 1})) AS t(k) ON true
  JOIN idx b ON b.i = a.i + t.k
  CROSS JOIN tot
  GROUP BY t.k
),
pv AS (SELECT {cks} FROM ckt)
SELECT n AS n_days,
       {rhos},
       CASE WHEN n <= {LB_LAGS + 1} OR c0 = 0 THEN NULL ELSE {_lb_q()} END AS q_lb
FROM tot, c0t, pv
"""


# --------------------------------------------------------------------------
# page_trend_weekly_events
# --------------------------------------------------------------------------


def page_trend_weekly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L for ordered alternatives on the weekly event-type
    rankings: blocks = epoch weeks, treatments = event types, and the
    hypothesized treatment order is the GLOBAL total-count order
    (ascending, ties broken by name — deterministic on both engines).
    L = Σ_j m_j·R_j is maximal when every week reproduces the global
    ordering, so z reads "how faithfully does each week's ranking
    follow the corpus-wide one" — the sharper, one-sided companion to
    [[friedman_daily_event_types]] (Friedman spends power on ANY
    ranking difference; Page concentrates it on the single monotone
    alternative).

    Exactness: within-week midranks are kept integral as doubled
    ranks (2r = 2·RANK + ties − 1, the Friedman idiom), so
    L2 = Σ m_j·R2_j = 2L and its null mean E[L2] = n·k(k+1)²/2 are
    exact integers; z uses the standard no-tie null variance
    Var(L) = n·k²(k+1)(k²−1)/144 as ONE identical IEEE DAG over the
    exact integers (documented: tie-uncorrected z, the textbook
    practice). k < 2 or n = 0 → NULL z.

    Scale: one (week, type)-keyed rollup over events (the only raw
    pass), then windows over the WEEKS×TYPES grid — calendar ×
    dictionary bounded; the global-order rank runs on the ≤|types|
    dictionary (one_group sanctioned)."""
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.expr(f"unix_timestamp(ts) div {DAY_SECONDS} div 7").alias("w"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cell = cell.localCheckpoint(eager=False)
    weeks = cell.select("w").distinct()
    types = cell.groupBy("event_type").agg(F.sum("cnt").alias("tot"))
    m = types.withColumn(
        "m",
        F.row_number().over(
            Window.partitionBy(one_group(F.col("event_type"))).orderBy(
                "tot", "event_type"
            )
        ),
    ).select("event_type", "m")
    grid = (
        weeks.crossJoin(F.broadcast(m))
        .join(cell, ["w", "event_type"], "left")
        .select("w", "event_type", "m", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    r2 = grid.withColumn(
        "r2",
        2 * F.rank().over(Window.partitionBy("w").orderBy("cnt"))
        + F.count(F.lit(1)).over(Window.partitionBy("w", "cnt"))
        - 1,
    )
    sums = r2.groupBy("event_type", "m").agg(
        F.sum(F.expr("CAST(r2 AS DECIMAL(38,0))")).alias("r2_sum"),
        F.count(F.lit(1)).alias("n_w"),
    )
    agg = sums.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n_w").alias("n"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * r2_sum")).alias("l2"),
    )
    var = (
        "(CAST(n AS DOUBLE) * k * k * (k + 1.0) * (CAST(k AS DOUBLE) * k - 1.0)"
        " / 144.0)"
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_weeks"),
        F.col("k").cast("bigint").alias("k_types"),
        F.col("l2").cast("bigint").alias("l2_stat"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1) div 2 AS BIGINT)"
        ).alias("e_l2_stat"),
        F.expr(
            f"CASE WHEN k < 2 OR n = 0 THEN NULL ELSE"
            f" CAST(l2 - CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1) div 2"
            f"      AS DOUBLE) / (2.0 * sqrt({var})) END"
        ).alias("z_stat"),
    )


def _page_oracle() -> str:
    var = (
        "(CAST(n AS DOUBLE) * k * k * (k + 1.0) * (CAST(k AS DOUBLE) * k - 1.0)"
        " / 144.0)"
    )
    return f"""
WITH cell AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} // 7 AS w, event_type,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
),
types AS (
  SELECT event_type, sum(cnt)::BIGINT AS tot FROM cell GROUP BY 1
),
mord AS (
  SELECT event_type,
         row_number() OVER (ORDER BY tot, event_type) AS m
  FROM types
),
grid AS (
  SELECT ww.w, mord.event_type, mord.m, coalesce(cell.cnt, 0) AS cnt
  FROM (SELECT DISTINCT w FROM cell) ww
  CROSS JOIN mord
  LEFT JOIN cell ON cell.w = ww.w AND cell.event_type = mord.event_type
),
ranked AS (
  SELECT event_type, m,
         2 * rank() OVER (PARTITION BY w ORDER BY cnt)
           + count(*) OVER (PARTITION BY w, cnt) - 1 AS r2
  FROM grid
),
sums AS (
  SELECT event_type, m, sum(r2::HUGEINT) AS r2_sum, count(*)::BIGINT AS n_w
  FROM ranked GROUP BY 1, 2
),
s AS (
  SELECT count(*)::BIGINT AS k, max(n_w)::BIGINT AS n,
         sum(m::HUGEINT * r2_sum) AS l2
  FROM sums
)
SELECT n AS n_weeks, k AS k_types,
       CAST(l2 AS BIGINT) AS l2_stat,
       CAST(n::HUGEINT * k * (k+1) * (k+1) // 2 AS BIGINT) AS e_l2_stat,
       CASE WHEN k < 2 OR n = 0 THEN NULL ELSE
         CAST(l2 - n::HUGEINT * k * (k+1) * (k+1) // 2 AS DOUBLE)
         / (2.0 * sqrt({var})) END AS z_stat
FROM s
"""


# --------------------------------------------------------------------------
# grubbs_outlier_daily_revenue
# --------------------------------------------------------------------------


def grubbs_outlier_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test on the daily order-revenue series: the maximum
    studentized deviation G = max|y_d − ȳ|/s, with the day that
    attains it. The classical is-the-worst-day-an-outlier gate (the
    series-level complement of [[outlier_customers_iqr]]'s per-group
    fences, and the "which day do I investigate first" input to
    [[changepoint_daily_events]]): G above the critical value means
    the spike is not explainable by the series' own spread.

    Exactness: per-day cent sums y_d and the (n, S, SS) sufficient
    statistics are exact DECIMAL(38,0) integers; the deviation is
    kept exact as dev_d = |n·y_d − S| (the mean never materializes),
    the arg-max day is the exact (dev DESC, d ASC) top-1, and G is
    ONE identical IEEE DAG over the exact integers (sample variance
    in the ΣΣ−S²/n form; sqrt is correctly rounded). n < 3 or zero
    variance → NULL G.

    Scale: one day-keyed rollup over orders; the arg-max is a
    TakeOrdered top-1 over the calendar-bounded daily relation —
    no global sort, no driver state."""
    orders = load(spark, sf_dir, "orders").select(
        F.expr(f"({ODAY})").alias("d"), F.expr(CENTS).alias("cents")
    )
    daily = orders.groupBy("d").agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("y")
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.expr("y * y")).alias("ss"),
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "d",
        "y",
        "n",
        "s",
        "ss",
        F.expr("abs(CAST(n AS DECIMAL(38,0)) * y - s)").alias("dev"),
    )
    top = dev.orderBy(F.col("dev").desc(), "d").limit(1)
    varx = (
        "((CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - 1.0))"
    )
    return top.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("d").cast("bigint").alias("outlier_epoch_day"),
        F.col("y").cast("bigint").alias("day_revenue_cents"),
        F.col("dev").cast("bigint").alias("dev_scaled"),
        F.expr(
            f"CASE WHEN n < 3 OR {varx} <= 0 THEN NULL ELSE"
            f" (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE)) / sqrt({varx}) END"
        ).alias("g_stat"),
    )


def _grubbs_oracle() -> str:
    varx = (
        "((CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - 1.0))"
    )
    return f"""
WITH daily AS (
  SELECT {ODAY_SQL} AS d, sum({CENTS})::HUGEINT AS y
  FROM orders GROUP BY 1
),
stats AS (
  SELECT count(*)::BIGINT AS n, sum(y) AS s, sum(y * y) AS ss FROM daily
),
dev AS (
  SELECT d, y, n, s, ss, abs(n::HUGEINT * y - s) AS dev
  FROM daily, stats
),
top AS (SELECT * FROM dev ORDER BY dev DESC, d LIMIT 1)
SELECT n AS n_days,
       CAST(d AS BIGINT) AS outlier_epoch_day,
       CAST(y AS BIGINT) AS day_revenue_cents,
       CAST(dev AS BIGINT) AS dev_scaled,
       CASE WHEN n < 3 OR {varx} <= 0 THEN NULL ELSE
         (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE)) / sqrt({varx}) END AS g_stat
FROM top
"""


QUERIES = (
    (cramer_von_mises_weekend, _CVM_SQL),
    (bhattacharyya_weekend_overlap, _BHATT_SQL),
    (ljung_box_daily_events, _lb_oracle()),
    (page_trend_weekly_events, _page_oracle()),
    (grubbs_outlier_daily_revenue, _grubbs_oracle()),
)
