"""Resampling, multiple-testing, and model-audit statistics — the
round-7 inference batch: exact permutation testing, hash-weighted
bootstrap intervals, one-way ANOVA, lagged cross-correlation,
split-conformal forecast bands, and Benjamini–Hochberg FDR control.

[beyond-reference] per SURVEY.md §2.2: the reference
(antonylucas/rdbms-metadata-manager, app.py — a 5-rule metadata
linter) has no statistical surface; these extend the experimentation
ladder (ab_srm_check → cuped_adjusted_ab → mann_whitney_u_test) with
the procedures a platform needs once it runs MANY tests (FDR), wants
assumption-free p-values (permutation), or has to put a band on a
forecast (conformal).

Determinism doctrine (README "Correctness strategy"): all randomness
is md5-derived (the [[epoch_shuffle_shards]] / [[dedup_negative_control]]
lever) — both engines hash the same strings, so "random" weights and
permuted arms are bit-identical; sufficient statistics ride exact
integer/DECIMAL(38,0) (HUGEINT in the oracle); any final IEEE step is
one identical scalar DAG on exact inputs, with per-group terms folded
in FIXED textual order (never an aggregation-order-dependent float
sum). The one engine-specific constant surface — the normal-quantile
thresholds the BH step-up compares against — is generated ONCE in
Python (statistics.NormalDist.inv_cdf) and embedded as the same
literals in both engines' query text.
"""

from __future__ import annotations

from statistics import NormalDist

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm.hashing import h32, h32_sql
from .base import DAY_SECONDS, load
from .prefix import one_group


# --------------------------------------------------------------------------
# permutation_test_ab
# --------------------------------------------------------------------------

PERM_COUNT = 199  # permutations beyond the observed assignment (p = 0)


def permutation_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (Monte-Carlo) permutation test for the A/A experiment —
    the assumption-free referee above [[cuped_adjusted_ab]] /
    [[mann_whitney_u_test]]: is the observed between-arm difference in
    per-user revenue larger than what arbitrary relabelings produce?
    The observed arms are the repo's salted-hash A/A family
    (md5('cuped:'||user) % 2); permutation p relabels every user by
    md5('perm:'||p||':'||user) % 2 — deterministic on BOTH engines, so
    the p-value is bit-identical, and p = (1 + #extreme)/(P + 1) is
    the standard add-one Monte-Carlo estimate (never zero).

    Exactness: "as or more extreme" compares |mean_a − mean_b| across
    permutations as RATIONALS via cross-multiplication
    (|s_a·n_b − s_b·n_a|·scale₀ vs D₀·scale_p, DECIMAL(38,0)/HUGEINT)
    — no float ever decides a count. A permutation with an empty arm
    is counted extreme (the conservative convention).

    Scale: ONE user-keyed rollup (the shuffle every per-user metric
    pays), then a |users|×(P+1) explode of slim (user, cents) rows —
    map-side combined into P+1 groups, so only ~2·(P+1) partial rows
    shuffle. P is a constant: 100 TB changes the rollup, not the
    fan-out."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    per_user = ev.groupBy("user_id").agg(F.sum("cents").alias("cents"))
    fanned = per_user.select(
        "user_id",
        "cents",
        F.explode(F.expr(f"sequence(0, {PERM_COUNT})")).alias("p"),
    ).withColumn(
        "arm",
        F.when(
            F.col("p") == 0,
            h32(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))) % 2,
        ).otherwise(
            h32(
                F.concat(
                    F.lit("perm:"),
                    F.col("p").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            )
            % 2
        ),
    )
    d38 = "decimal(38,0)"
    # checkpoint the ≤(P+1)-row per-permutation stats: the observed
    # row (p = 0) and the permutation legs would otherwise each
    # re-run the |users|×(P+1) explode + md5 + rollup
    stats = (
        fanned.groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").cast(d38)).alias("s"),
            F.sum((F.col("arm") == 0).cast("bigint")).alias("n_a"),
            F.sum(
                F.expr(
                    "CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END"
                )
            ).alias("s_a"),
        )
        .localCheckpoint(eager=False)
    )
    scored = stats.select(
        "p",
        "n",
        "n_a",
        F.expr("CAST(n - n_a AS BIGINT)").alias("n_b"),
        F.expr("CAST(abs(s_a * (n - n_a) - (s - s_a) * n_a) AS DECIMAL(38,0))").alias(
            "d_stat"
        ),
        F.expr("CAST(CAST(n_a AS DECIMAL(38,0)) * (n - n_a) AS DECIMAL(38,0))").alias(
            "scale"
        ),
        F.expr(
            "CASE WHEN n_a = 0 OR n - n_a = 0 THEN NULL ELSE"
            " CAST(s_a AS DOUBLE) / n_a"
            " - CAST(s - s_a AS DOUBLE) / (n - n_a) END"
        ).alias("diff"),
    )
    obs = scored.filter(F.col("p") == 0).select(
        F.col("n").alias("n_users"),
        F.col("d_stat").alias("d_obs"),
        F.col("scale").alias("scale_obs"),
        F.col("diff").alias("diff_obs_cents"),
    )
    return (
        scored.filter(F.col("p") >= 1)
        .crossJoin(F.broadcast(obs))
        .agg(
            F.first("n_users").alias("n_users"),
            F.count(F.lit(1)).alias("n_perms"),
            F.sum(
                F.expr(
                    "CASE WHEN scale = 0"
                    " OR d_stat * scale_obs >= d_obs * scale"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("n_extreme"),
            F.expr(
                "CASE WHEN first(scale_obs) = 0 THEN NULL ELSE"
                " CAST((1000 * (1 + sum(CASE WHEN scale = 0"
                "   OR d_stat * scale_obs >= d_obs * scale THEN 1 ELSE 0 END)))"
                f" div ({PERM_COUNT} + 1) AS BIGINT) END"
            ).alias("p_value_permille"),
            F.first("diff_obs_cents").alias("diff_obs_cents"),
        )
    )


_PERM_SQL = f"""
WITH per_user AS (
  SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents
  FROM events GROUP BY user_id
),
fanned AS (
  SELECT user_id, cents, t.p,
         CASE WHEN t.p = 0
              THEN {h32_sql("'cuped:' || user_id::VARCHAR")} % 2
              ELSE {h32_sql("'perm:' || t.p::VARCHAR || ':' || user_id::VARCHAR")} % 2
         END AS arm
  FROM per_user, range(0, {PERM_COUNT} + 1) t(p)
),
stats AS (
  SELECT p, count(*)::BIGINT AS n, sum(cents::HUGEINT) AS s,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN arm = 0 THEN cents::HUGEINT ELSE 0 END) AS s_a
  FROM fanned GROUP BY p
),
scored AS (
  SELECT p, n, n_a, CAST(n - n_a AS BIGINT) AS n_b,
         abs(s_a * (n - n_a) - (s - s_a) * n_a) AS d_stat,
         n_a::HUGEINT * (n - n_a) AS scale,
         CASE WHEN n_a = 0 OR n - n_a = 0 THEN NULL ELSE
           CAST(s_a AS DOUBLE) / n_a
           - CAST(s - s_a AS DOUBLE) / (n - n_a) END AS diff
  FROM stats
),
obs AS (
  SELECT n AS n_users, d_stat AS d_obs, scale AS scale_obs,
         diff AS diff_obs_cents
  FROM scored WHERE p = 0
)
SELECT first(o.n_users)::BIGINT AS n_users, count(*)::BIGINT AS n_perms,
       sum(CASE WHEN s.scale = 0
                OR s.d_stat * o.scale_obs >= o.d_obs * s.scale
                THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
       CASE WHEN first(o.scale_obs) = 0 THEN NULL ELSE
         CAST((1000 * (1 + sum(CASE WHEN s.scale = 0
                OR s.d_stat * o.scale_obs >= o.d_obs * s.scale
                THEN 1 ELSE 0 END))) // ({PERM_COUNT} + 1) AS BIGINT) END
         AS p_value_permille,
       first(o.diff_obs_cents) AS diff_obs_cents
FROM scored s, obs o
WHERE s.p >= 1
"""


# --------------------------------------------------------------------------
# bayesian_bootstrap_revenue_ci
# --------------------------------------------------------------------------

BOOT_REPS = 256  # bootstrap replicates
BOOT_WMAX = 8  # weights drawn uniformly from 1..BOOT_WMAX


def bayesian_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized (Bayesian-style) bootstrap CI for mean daily
    revenue — the uncertainty band a dashboard should print next to
    the point estimate. Classic resampling needs an RNG; here each
    replicate b reweights every day by the exchangeable integer
    weight 1 + (md5('boot:'||b||':'||d) % 8) — a valid
    generalized-bootstrap scheme (positive iid weights, unit-scaled
    by the ratio estimator) that is bit-identical on both engines.
    The 2.5/97.5 percentile of the 256 replicate means is the
    interval; the replicate means are exact integer MICRO-cents
    ((10⁶·Σw·r) div Σw), so ordering and the percentile pick never
    touch a float.

    Scale: the daily rollup is the only raw-volume shuffle; the
    |days|×256 fan-out is calendar-bounded, map-side combined into
    256 groups; percentile_disc runs on the CONSTANT 256-row
    replicate relation (the sanctioned bounded case)."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("d")
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).alias(
                "r"
            )
        )
        .coalesce(32)
        .localCheckpoint(eager=False)
    )
    reps = (
        daily.select(
            "d",
            "r",
            F.explode(F.expr(f"sequence(0, {BOOT_REPS} - 1)")).alias("b"),
        )
        .withColumn(
            "w",
            F.lit(1)
            + h32(
                F.concat(
                    F.lit("boot:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("d").cast("string"),
                )
            )
            % BOOT_WMAX,
        )
        .groupBy("b")
        .agg(
            F.expr(
                "CAST((1000000 * sum(CAST(w AS DECIMAL(38,0)) * r))"
                " div sum(w) AS BIGINT)"
            ).alias("mean_micro")
        )
    )
    point = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr(
            "CASE WHEN count(1) = 0 THEN NULL ELSE"
            " CAST((1000000 * sum(CAST(r AS DECIMAL(38,0)))) div count(1)"
            " AS BIGINT) END"
        ).alias("mean_micro_obs"),
    )
    band = reps.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.expr(
            "CAST(percentile_disc(0.025) WITHIN GROUP (ORDER BY mean_micro)"
            " AS BIGINT)"
        ).alias("ci_lo_micro"),
        F.expr(
            "CAST(percentile_disc(0.975) WITHIN GROUP (ORDER BY mean_micro)"
            " AS BIGINT)"
        ).alias("ci_hi_micro"),
    )
    return point.crossJoin(F.broadcast(band)).select(
        "n_days", "n_replicates", "mean_micro_obs", "ci_lo_micro", "ci_hi_micro"
    )


_BOOT_SQL = f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS d,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS r
  FROM orders GROUP BY 1
),
reps AS (
  SELECT t.b,
         CAST((1000000 * sum((1 + {h32_sql("'boot:' || t.b::VARCHAR || ':' || d::VARCHAR")} % {BOOT_WMAX})::HUGEINT * r))
              // sum(1 + {h32_sql("'boot:' || t.b::VARCHAR || ':' || d::VARCHAR")} % {BOOT_WMAX}) AS BIGINT) AS mean_micro
  FROM daily, range(0, {BOOT_REPS}) t(b)
  GROUP BY t.b
),
point AS (
  SELECT count(*)::BIGINT AS n_days,
         CASE WHEN count(*) = 0 THEN NULL ELSE
           CAST((1000000 * sum(r::HUGEINT)) // count(*) AS BIGINT) END
           AS mean_micro_obs
  FROM daily
),
band AS (
  SELECT count(*)::BIGINT AS n_replicates,
         CAST(percentile_disc(0.025) WITHIN GROUP (ORDER BY mean_micro) AS BIGINT)
           AS ci_lo_micro,
         CAST(percentile_disc(0.975) WITHIN GROUP (ORDER BY mean_micro) AS BIGINT)
           AS ci_hi_micro
  FROM reps
)
SELECT n_days, n_replicates, mean_micro_obs, ci_lo_micro, ci_hi_micro
FROM point, band
"""


# --------------------------------------------------------------------------
# anova_f_order_priority
# --------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _anova_terms(cast: str) -> str:
    """The between-group sum Σ s_g²/n_g as a FIXED-ORDER scalar chain —
    identical text on both engines, so the IEEE additions run in the
    same sequence (never an aggregation-order-dependent float sum)."""
    terms = [
        f"(CASE WHEN n_{i} > 0 THEN ({cast}(s_{i} AS DOUBLE) * {cast}(s_{i} AS DOUBLE)) / n_{i} ELSE 0.0 END)"
        for i in range(1, len(_PRIORITIES) + 1)
    ]
    return " + ".join(terms)


def anova_f_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F over the five order-priority classes on order
    value — the parametric twin of [[kruskal_wallis_priority]] (run
    both: agreement means the normality assumption didn't matter).
    Sufficient statistics (per-group n, Σx; grand Σx²) are exact
    DECIMAL(38,0)/HUGEINT from integer cents; F is then one identical
    IEEE scalar DAG with the five between-group terms folded in fixed
    priority order. Degenerate regimes (fewer than 2 non-empty
    groups, n ≤ k, zero within-variance) yield NULL on both engines.

    Scale: ONE map-side-combined aggregate over the orders scan — the
    group domain is the 5 priority literals, so nothing about this
    plan changes at 100 TB."""
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum(CAST({cents} AS DECIMAL(38,0)))").alias("s"),
        F.expr(
            f"sum(CAST({cents} AS DECIMAL(38,0)) * {cents})"
        ).alias("ss"),
    ]
    for i, prio in enumerate(_PRIORITIES, start=1):
        aggs.append(
            F.expr(
                f"sum(CASE WHEN o_orderpriority = '{prio}' THEN 1 ELSE 0 END)"
            ).alias(f"n_{i}")
        )
        aggs.append(
            F.expr(
                f"sum(CASE WHEN o_orderpriority = '{prio}'"
                f" THEN CAST({cents} AS DECIMAL(38,0)) ELSE 0 END)"
            ).alias(f"s_{i}")
        )
    sums = load(spark, sf_dir, "orders").agg(*aggs)
    k = " + ".join(
        f"(CASE WHEN n_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(1, len(_PRIORITIES) + 1)
    )
    tb = _anova_terms("CAST")
    return sums.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.expr(f"CAST({k} AS BIGINT)").alias("k_groups"),
        F.expr(f"CAST(({k}) - 1 AS BIGINT)").alias("df_between"),
        F.expr(f"CAST(n - ({k}) AS BIGINT)").alias("df_within"),
        F.expr(
            f"CASE WHEN n = 0 OR ({k}) < 2 OR n <= ({k})"
            f" OR CAST(ss AS DOUBLE) - ({tb}) <= 0 THEN NULL ELSE"
            f" ((({tb}) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)"
            f"  / (({k}) - 1))"
            f" / ((CAST(ss AS DOUBLE) - ({tb})) / (n - ({k}))) END"
        ).alias("f_stat"),
    )


def _anova_oracle() -> str:
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    group_cols = []
    for i, prio in enumerate(_PRIORITIES, start=1):
        group_cols.append(
            f"sum(CASE WHEN o_orderpriority = '{prio}' THEN 1 ELSE 0 END) AS n_{i}"
        )
        group_cols.append(
            f"sum(CASE WHEN o_orderpriority = '{prio}'"
            f" THEN {cents}::HUGEINT ELSE 0 END) AS s_{i}"
        )
    k = " + ".join(
        f"(CASE WHEN n_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(1, len(_PRIORITIES) + 1)
    )
    tb = _anova_terms("CAST")
    return f"""
WITH sums AS (
  SELECT count(*)::BIGINT AS n, sum({cents}::HUGEINT) AS s,
         sum({cents}::HUGEINT * {cents}) AS ss,
         {", ".join(group_cols)}
  FROM orders
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST({k} AS BIGINT) AS k_groups,
       CAST(({k}) - 1 AS BIGINT) AS df_between,
       CAST(n - ({k}) AS BIGINT) AS df_within,
       CASE WHEN n = 0 OR ({k}) < 2 OR n <= ({k})
            OR CAST(ss AS DOUBLE) - ({tb}) <= 0 THEN NULL ELSE
         ((({tb}) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
          / (({k}) - 1))
         / ((CAST(ss AS DOUBLE) - ({tb})) / (n - ({k}))) END AS f_stat
FROM sums
"""


# --------------------------------------------------------------------------
# daily_cross_correlation
# --------------------------------------------------------------------------

XCORR_MAX_LAG = 7


def daily_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between daily event VOLUME and daily
    event VALUE (does activity today predict revenue L days out?) —
    the lead-indicator scan behind "which metric moves first", and the
    two-series generalization of [[autocorr_daily_events]]. For each
    lag L in 0..7, Pearson r between x_d = events(d) and
    y_{d+L} = value-cents(d+L) over all aligned day pairs.

    Exactness: all five moments (Σx, Σy, Σxx, Σyy, Σxy) are exact
    DECIMAL(38,0)/HUGEINT; r is one identical IEEE DAG per lag;
    degenerate variance yields NULL on both engines.

    Scale: one daily rollup shuffle; the lag alignment is a self-join
    of the CALENDAR-BOUNDED daily relation against an 8-row lag
    spine — |days|·8 slim rows, map-side combined into 8 groups."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias("y"),
        )
        .coalesce(32)
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        F.col("d"),
        F.col("x"),
        F.explode(F.expr(f"sequence(0, {XCORR_MAX_LAG})")).alias("lag"),
    )
    b = daily.select(F.col("d").alias("bd"), F.col("y"))
    pairs = a.join(b, a.d + a.lag == b.bd)
    d38 = "decimal(38,0)"
    moments = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    return (
        moments.select(
            F.col("lag").cast("bigint").alias("lag_days"),
            F.col("n").cast("bigint").alias("n_pairs"),
            F.expr(
                "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <= 0"
                " OR CAST(n * syy - sy * sy AS DOUBLE) <= 0 THEN NULL ELSE"
                " CAST(n * sxy - sx * sy AS DOUBLE)"
                " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
                "        * CAST(n * syy - sy * sy AS DOUBLE)) END"
            ).alias("xcorr"),
        )
        .orderBy("lag_days")
    )


_XCORR_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d,
         count(*)::BIGINT AS x,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS y
  FROM events GROUP BY 1
),
pairs AS (
  SELECT t.lag, a.x, b.y
  FROM daily a
  CROSS JOIN range(0, {XCORR_MAX_LAG} + 1) t(lag)
  JOIN daily b ON b.d = a.d + t.lag
),
moments AS (
  SELECT lag, count(*)::BIGINT AS n,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
         sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
         sum(x::HUGEINT * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_days, n AS n_pairs,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <= 0
            OR CAST(n * syy - sy * sy AS DOUBLE) <= 0 THEN NULL ELSE
         CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) END AS xcorr
FROM moments
ORDER BY lag_days
"""


# --------------------------------------------------------------------------
# conformal_forecast_intervals
# --------------------------------------------------------------------------

CONF_NOMINAL_PERMILLE = 900  # target coverage of the conformal band
_SEASON_DAYS = 7


def conformal_forecast_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction band for the seasonal-naive daily
    revenue forecast (ŷ_d = r_{d−7}) — the distribution-free way to
    put a guaranteed-coverage interval on ANY point forecaster, and
    the calibration layer [[forecast_seasonal_naive_backtest]] lacks:
    backtest error says how wrong the model WAS, the conformal
    quantile says how wide the band must BE. Calibration = the first
    half of forecastable days; q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest
    |residual| (the finite-sample-valid conformal rank, NOT the plain
    0.9 quantile); the report checks the band empirically on the
    held-out second half.

    Exactness: residuals are integer cents; the conformal rank is an
    exact integer order statistic (row_number on the CALENDAR-BOUNDED
    residual relation — the sanctioned one_group case); coverage is
    integer per-mille.

    Scale: one daily rollup shuffle; everything after runs on ≤|days|
    rows."""
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("d")
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).alias(
                "r"
            )
        )
        .coalesce(32)
        .localCheckpoint(eager=False)
    )
    base = daily.select(F.col("d").alias("bd"), F.col("r").alias("r_prev"))
    resid = daily.join(base, daily.d == base.bd + _SEASON_DAYS).select(
        "d", F.expr("abs(r - r_prev)").alias("e")
    )
    rng = resid.agg(
        F.expr("CAST((min(d) + max(d)) div 2 AS BIGINT)").alias("mid")
    )
    split = resid.crossJoin(F.broadcast(rng)).withColumn(
        "is_cal", F.col("d") < F.col("mid")
    )
    cal = split.filter(F.col("is_cal"))
    w = Window.partitionBy(one_group(F.col("d"))).orderBy("e", "d")
    cal_ranked = cal.withColumn("rk", F.row_number().over(w))
    cal_stats = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    # n_cal comes from cal_stats (a global agg: always one row, 0 on
    # an empty calibration half), NEVER first() over cal_ranked —
    # with an empty calibration side but a non-empty eval side,
    # first() over zero rows yields NULL where the oracle counts 0
    # (review r7 finding: confirmed divergence on 8-9-day corpora)
    kth = (
        cal_ranked.crossJoin(F.broadcast(cal_stats))
        .agg(
            F.expr(
                f"min(CASE WHEN rk = CAST((9 * (n_cal + 1) + 9) div 10 AS BIGINT)"
                f" THEN e END)"
            ).alias("q_hat_cents"),
        )
    )
    qhat = cal_stats.crossJoin(F.broadcast(kth))
    # groupBy on the broadcast keys (never a global agg): with no
    # forecastable days the eval side is empty and the report must be
    # empty too — exactly the oracle's GROUP BY semantics
    return (
        split.filter(~F.col("is_cal"))
        .crossJoin(F.broadcast(qhat))
        .groupBy("n_cal", "q_hat_cents")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.expr("CASE WHEN e <= q_hat_cents THEN 1 ELSE 0 END")
            ).alias("_n_cov"),
        )
        .select(
            "n_cal",
            "n_eval",
            "q_hat_cents",
            F.expr(
                "CASE WHEN n_eval = 0 OR q_hat_cents IS NULL THEN NULL"
                " ELSE CAST((1000 * _n_cov) div n_eval AS BIGINT) END"
            ).alias("coverage_permille"),
            F.lit(CONF_NOMINAL_PERMILLE).cast("bigint").alias("nominal_permille"),
        )
    )


_CONFORMAL_SQL = f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS d,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS r
  FROM orders GROUP BY 1
),
resid AS (
  SELECT a.d, abs(a.r - b.r) AS e
  FROM daily a JOIN daily b ON a.d = b.d + {_SEASON_DAYS}
),
rng AS (SELECT CAST((min(d) + max(d)) // 2 AS BIGINT) AS mid FROM resid),
split AS (SELECT d, e, (d < mid) AS is_cal FROM resid, rng),
cal_ranked AS (
  SELECT e, row_number() OVER (ORDER BY e, d) AS rk
  FROM split WHERE is_cal
),
qhat AS (
  SELECT count(*)::BIGINT AS n_cal,
         min(CASE WHEN rk = CAST((9 * ((SELECT count(*) FROM cal_ranked) + 1) + 9) // 10 AS BIGINT)
             THEN e END)::BIGINT AS q_hat_cents
  FROM cal_ranked
)
SELECT q.n_cal, count(*)::BIGINT AS n_eval, q.q_hat_cents,
       CASE WHEN count(*) = 0 OR q.q_hat_cents IS NULL THEN NULL ELSE
         CAST((1000 * sum(CASE WHEN s.e <= q.q_hat_cents THEN 1 ELSE 0 END))
              // count(*) AS BIGINT) END AS coverage_permille,
       CAST({CONF_NOMINAL_PERMILLE} AS BIGINT) AS nominal_permille
FROM split s, qhat q
WHERE NOT s.is_cal
GROUP BY q.n_cal, q.q_hat_cents
"""


# --------------------------------------------------------------------------
# bh_fdr_nation_drift
# --------------------------------------------------------------------------

BH_Q_PERMILLE = 100  # FDR level q = 0.10
_BH_M = 25  # the TPC-H nation universe — the test's DEFINED family size
# Per-rank |z| thresholds for the BH step-up: p_(i) <= q*i/m is
# equivalent to |z|_(i) >= Phi^-1(1 - q*i/(2m)). Generated ONCE here
# and embedded as the same literals in both engines' query text, so
# no engine ever evaluates a normal quantile (inv_cdf is libm-class —
# the README correctness contract bans cross-engine libm).
BH_Z_THRESHOLDS = tuple(
    NormalDist().inv_cdf(1.0 - (BH_Q_PERMILLE / 1000.0) * i / _BH_M / 2.0)
    for i in range(1, _BH_M + 1)
)


def bh_fdr_nation_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over 25 simultaneous drift
    tests — the multiple-testing discipline every monitoring surface
    needs once it alarms per segment: each nation's share of orders
    in the first vs second half of the calendar gets a two-proportion
    z, and BH's step-up (reject the i smallest p-values where
    p_(i) ≤ q·i/m) picks the alarms while controlling the expected
    false-discovery rate at q = 0.10. The family is DEFINED as the
    25-nation TPC-H universe (the full nation table is joined in, so
    absent nations contribute zero counts, z = 0, never rejected);
    the per-rank thresholds are module-level literals identical in
    both engines (see BH_Z_THRESHOLDS).

    Exactness: counts are exact; z is one identical IEEE DAG; ranking
    sorts bit-identical doubles (ties broken by name) on the BOUNDED
    25-row relation (sanctioned one_group case); the step-up maximum
    is an exact integer.

    Scale: one orders×customer join keyed on the join key both
    tables already shuffle on, one nation-keyed rollup, then
    everything runs on 25 rows."""
    mid = (
        load(spark, sf_dir, "orders")
        .agg(
            F.expr(
                f"CAST((min(unix_timestamp(o_orderdate) div {DAY_SECONDS})"
                f" + max(unix_timestamp(o_orderdate) div {DAY_SECONDS}))"
                f" div 2 AS BIGINT)"
            ).alias("mid")
        )
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("day"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    counts = (
        orders.crossJoin(F.broadcast(mid))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum((F.col("day") < F.col("mid")).cast("bigint")).alias("cnt1"),
            F.sum((F.col("day") >= F.col("mid")).cast("bigint")).alias("cnt2"),
        )
    )
    nations = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # broadcast the ≤25-row rollup side (the preserved nation side of a
    # left join can't be the build side) and checkpoint the 25-row
    # result ONCE: totals, the z scoring, the step-up maximum, and the
    # final projection would otherwise each re-derive the full
    # orders×customer rollup (four SortMergeJoins in the unpinned plan)
    filled = (
        nations.join(
            F.broadcast(counts), nations.n_nationkey == counts.c_nationkey, "left"
        )
        .select(
            "n_name",
            F.coalesce("cnt1", F.lit(0)).alias("n_first"),
            F.coalesce("cnt2", F.lit(0)).alias("n_second"),
        )
        .localCheckpoint(eager=False)
    )
    totals = filled.agg(
        F.coalesce(F.sum("n_first"), F.lit(0)).alias("t1"),
        F.coalesce(F.sum("n_second"), F.lit(0)).alias("t2"),
    )
    z_expr = (
        "CASE WHEN t1 = 0 OR t2 = 0 THEN CAST(0.0 AS DOUBLE) ELSE"
        " CASE WHEN CAST(n_first + n_second AS DOUBLE) / (t1 + t2) <= 0.0"
        "   OR CAST(n_first + n_second AS DOUBLE) / (t1 + t2) >= 1.0"
        "   THEN CAST(0.0 AS DOUBLE) ELSE"
        " (CAST(n_first AS DOUBLE) / t1 - CAST(n_second AS DOUBLE) / t2)"
        " / sqrt((CAST(n_first + n_second AS DOUBLE) / (t1 + t2))"
        "        * (1.0 - CAST(n_first + n_second AS DOUBLE) / (t1 + t2))"
        "        * (CAST(1 AS DOUBLE) / t1 + CAST(1 AS DOUBLE) / t2)) END END"
    )
    scored = filled.crossJoin(F.broadcast(totals)).select(
        "n_name", "n_first", "n_second", F.expr(z_expr).alias("z_stat")
    )
    w = Window.partitionBy(one_group(F.col("n_name"))).orderBy(
        F.abs(F.col("z_stat")).desc(), F.col("n_name")
    )
    # CAST each literal to DOUBLE: DuckDB types a bare float literal
    # as DECIMAL, whose decimal->double conversion is 1 ulp off
    # Spark's for 4 of the 25 thresholds (review r7 finding — the
    # documented bare-float-literal trap)
    th_list = ", ".join(f"CAST({t!r} AS DOUBLE)" for t in BH_Z_THRESHOLDS)
    ranked = scored.withColumn("bh_rank", F.row_number().over(w)).withColumn(
        "_th",
        F.expr(
            f"CASE WHEN bh_rank <= {_BH_M}"
            f" THEN element_at(array({th_list}), CAST(bh_rank AS INT))"
            f" ELSE CAST(1e308 AS DOUBLE) END"
        ),
    )
    istar = ranked.agg(
        F.max(F.expr("CASE WHEN abs(z_stat) >= _th THEN bh_rank END")).alias(
            "i_star"
        )
    )
    return (
        ranked.crossJoin(F.broadcast(istar))
        .select(
            "n_name",
            "n_first",
            "n_second",
            "z_stat",
            F.col("bh_rank").cast("bigint").alias("bh_rank"),
            (F.col("bh_rank") <= F.coalesce(F.col("i_star"), F.lit(0))).alias(
                "rejected"
            ),
        )
        .orderBy("n_name")
    )


def _bh_oracle() -> str:
    th_list = ", ".join(f"CAST({t!r} AS DOUBLE)" for t in BH_Z_THRESHOLDS)
    z_expr = (
        "CASE WHEN t1 = 0 OR t2 = 0 THEN CAST(0.0 AS DOUBLE) ELSE"
        " CASE WHEN CAST(n_first + n_second AS DOUBLE) / (t1 + t2) <= 0.0"
        "   OR CAST(n_first + n_second AS DOUBLE) / (t1 + t2) >= 1.0"
        "   THEN CAST(0.0 AS DOUBLE) ELSE"
        " (CAST(n_first AS DOUBLE) / t1 - CAST(n_second AS DOUBLE) / t2)"
        " / sqrt((CAST(n_first + n_second AS DOUBLE) / (t1 + t2))"
        "        * (1.0 - CAST(n_first + n_second AS DOUBLE) / (t1 + t2))"
        "        * (CAST(1 AS DOUBLE) / t1 + CAST(1 AS DOUBLE) / t2)) END END"
    )
    return f"""
WITH rng AS (
  SELECT CAST((min(epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS})
       + max(epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS})) // 2 AS BIGINT)
       AS mid
  FROM orders
),
counts AS (
  SELECT c.c_nationkey,
         sum(CASE WHEN epoch_us(o.o_orderdate) // 1000000 // {DAY_SECONDS} < rng.mid
                  THEN 1 ELSE 0 END)::BIGINT AS cnt1,
         sum(CASE WHEN epoch_us(o.o_orderdate) // 1000000 // {DAY_SECONDS} >= rng.mid
                  THEN 1 ELSE 0 END)::BIGINT AS cnt2
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey, rng
  GROUP BY c.c_nationkey
),
filled AS (
  SELECT n.n_name, coalesce(cnt1, 0)::BIGINT AS n_first,
         coalesce(cnt2, 0)::BIGINT AS n_second
  FROM nation n LEFT JOIN counts ON n.n_nationkey = counts.c_nationkey
),
totals AS (
  SELECT coalesce(sum(n_first), 0)::BIGINT AS t1,
         coalesce(sum(n_second), 0)::BIGINT AS t2
  FROM filled
),
scored AS (
  SELECT n_name, n_first, n_second, {z_expr} AS z_stat
  FROM filled, totals
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY abs(z_stat) DESC, n_name) AS bh_rank
  FROM scored
),
th AS (
  SELECT *, CASE WHEN bh_rank <= {_BH_M}
                 THEN ([{th_list}])[bh_rank]
                 ELSE CAST(1e308 AS DOUBLE) END AS _th
  FROM ranked
),
istar AS (
  SELECT max(CASE WHEN abs(z_stat) >= _th THEN bh_rank END) AS i_star FROM th
)
SELECT n_name, n_first, n_second, z_stat,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       (bh_rank <= coalesce(i_star, 0)) AS rejected
FROM th, istar
ORDER BY n_name
"""


# --------------------------------------------------------------------------
# cramers_v_nation_segment
# --------------------------------------------------------------------------


def cramers_v_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the nation × market-segment contingency table —
    the EFFECT-SIZE of categorical association ([[source_signature_chisq]]
    tests one margin against uniformity; this measures how strongly
    two real dimensions co-vary, the number a "does geography drive
    segment mix?" review reads). χ² is carried as an EXACT integer in
    micro-units: per cell, ((o·N − r·c)² · 10⁶) div (r·c·N) is a pure
    integer (DECIMAL(38,0)/HUGEINT products), so the 125-cell sum is
    order-independent — the lever that makes a float χ² portable
    (a per-cell double sum would be aggregation-order-dependent).
    V = sqrt(χ²/(N·min(R−1,C−1))) is then one identical IEEE DAG.

    Audit wall (documented, like theil_sen's int64 wall): the squared
    deviation times 10⁶ needs ~4·log₁₀(N)+6 digits, so DECIMAL(38,0)
    /HUGEINT overflow — LOUDLY, on both engines (Spark ANSI raises,
    DuckDB raises) — once a cell's |o·N − r·c| exceeds ~3·10¹⁵
    (N ≳ 10⁸ customers with strong skew). Past that, drop the micro
    factor to 10³ or pre-aggregate per segment; never a silent
    divergence.

    Scale: one customer scan → one (nation, segment) rollup; margins
    and cells all live on the ≤R·C bounded relation."""
    cust = load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    cells = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    rows_m = cells.groupBy("c_nationkey").agg(F.sum("o").alias("rt"))
    cols_m = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("ct"))
    tot = cells.agg(
        F.coalesce(F.sum("o"), F.lit(0)).alias("n"),
        F.countDistinct("c_nationkey").alias("r_levels"),
        F.countDistinct("c_mktsegment").alias("c_levels"),
    )
    # χ² = Σ_observed (o−e)²/e + Σ_zero-cells e, with the second sum
    # closed-form as N − Σ_observed e (only observed cells are ever
    # materialized); each term is truncated to micro-units per cell,
    # so the sums are pure integers and order-independent
    return (
        cells.join(F.broadcast(rows_m), "c_nationkey")
        .join(F.broadcast(cols_m), "c_mktsegment")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("_n"),
            F.first("r_levels").alias("_r"),
            F.first("c_levels").alias("_c"),
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)"
                        " * (CAST(o AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)"
                        " * 1000000"
                        " div (CAST(rt AS DECIMAL(38,0)) * ct * n) AS DECIMAL(38,0))"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_obs_micro"),
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST((CAST(rt AS DECIMAL(38,0)) * ct * 1000000)"
                        " div n AS DECIMAL(38,0))"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_e_obs_micro"),
        )
        .select(
            F.col("_n").cast("bigint").alias("n_customers"),
            F.col("_r").cast("bigint").alias("n_nations"),
            F.col("_c").cast("bigint").alias("n_segments"),
            F.expr(
                "CASE WHEN _n = 0 THEN NULL ELSE"
                " CAST(_obs_micro + 1000000 * CAST(_n AS DECIMAL(38,0))"
                " - _e_obs_micro AS BIGINT) END"
            ).alias("chi2_micro"),
            F.expr(
                "CASE WHEN _n = 0 OR least(_r, _c) < 2 THEN NULL ELSE"
                " sqrt((CAST(_obs_micro + 1000000 * CAST(_n AS DECIMAL(38,0))"
                "       - _e_obs_micro AS DOUBLE) / 1000000.0)"
                "      / (CAST(_n AS DOUBLE) * (least(_r, _c) - 1))) END"
            ).alias("cramers_v"),
        )
    )


_CRAMER_SQL = """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS o
  FROM customer GROUP BY 1, 2
),
rows_m AS (SELECT c_nationkey, sum(o)::BIGINT AS rt FROM cells GROUP BY 1),
cols_m AS (SELECT c_mktsegment, sum(o)::BIGINT AS ct FROM cells GROUP BY 1),
tot AS (
  SELECT coalesce(sum(o), 0)::BIGINT AS n,
         count(DISTINCT c_nationkey)::BIGINT AS r_levels,
         count(DISTINCT c_mktsegment)::BIGINT AS c_levels
  FROM cells
),
agg AS (
  SELECT first(n) AS _n, first(r_levels) AS _r, first(c_levels) AS _c,
         coalesce(sum(
           (o::HUGEINT * n - rt::HUGEINT * ct)
           * (o::HUGEINT * n - rt::HUGEINT * ct)
           * 1000000 // (rt::HUGEINT * ct * n)
         ), 0) AS _obs_micro,
         coalesce(sum((rt::HUGEINT * ct * 1000000) // n), 0) AS _e_obs_micro
  FROM cells
  JOIN rows_m USING (c_nationkey)
  JOIN cols_m USING (c_mktsegment)
  CROSS JOIN tot
)
SELECT CAST(_n AS BIGINT) AS n_customers, CAST(_r AS BIGINT) AS n_nations,
       CAST(_c AS BIGINT) AS n_segments,
       CASE WHEN _n = 0 THEN NULL ELSE
         CAST(_obs_micro + 1000000 * _n::HUGEINT - _e_obs_micro AS BIGINT)
         END AS chi2_micro,
       CASE WHEN _n = 0 OR least(_r, _c) < 2 THEN NULL ELSE
         sqrt((CAST(_obs_micro + 1000000 * _n::HUGEINT - _e_obs_micro
               AS DOUBLE) / 1000000.0)
              / (CAST(_n AS DOUBLE) * (least(_r, _c) - 1))) END AS cramers_v
FROM agg
"""


# --------------------------------------------------------------------------
# ab_power_mde_report
# --------------------------------------------------------------------------

# Φ^-1(1 - 0.05/2) and Φ^-1(0.8): the 5%-two-sided / 80%-power design
# constants, generated once in Python and embedded as identical
# literals in both engines (the BH_Z_THRESHOLDS lever).
Z_ALPHA2 = NormalDist().inv_cdf(1.0 - 0.05 / 2.0)
Z_BETA = NormalDist().inv_cdf(0.8)


def ab_power_mde_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the per-user revenue A/B at the
    CURRENT arm sizes — the experiment-design readout
    ([[ab_srm_check]] validates the split, [[cuped_adjusted_ab]]
    reduces the variance; this says what effect the test can even
    see): MDE = (z_{α/2} + z_β)·√(σ²·(1/n_a + 1/n_b)) at 5%
    two-sided / 80% power, with σ² the pooled per-user revenue
    variance. The z constants are Python-generated literals identical
    in both engines; σ² comes from exact DECIMAL sufficient
    statistics, so the final DAG is bit-identical.

    Scale: ONE user-keyed rollup feeding a single-row aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    per_user = ev.groupBy("user_id").agg(F.sum("cents").alias("x")).withColumn(
        "arm",
        h32(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))) % 2,
    )
    d38 = "decimal(38,0)"
    sums = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("s"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("ss"),
        F.sum((F.col("arm") == 0).cast("bigint")).alias("n_a"),
    )
    # CAST the design constants to DOUBLE (the bare-float-literal
    # DECIMAL trap — see BH_Z_THRESHOLDS)
    mde = (
        f"CASE WHEN n < 2 OR n_a = 0 OR n - n_a = 0 THEN NULL ELSE"
        f" (CAST({Z_ALPHA2!r} AS DOUBLE) + CAST({Z_BETA!r} AS DOUBLE))"
        f" * sqrt(((CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)"
        f"          / (n - 1))"
        f"        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / (n - n_a))) END"
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.expr("CAST(n - n_a AS BIGINT)").alias("n_b"),
        F.expr(
            "CASE WHEN n = 0 THEN NULL ELSE"
            " CAST((1000 * s) div n AS BIGINT) END"
        ).alias("mean_cents_milli"),
        F.expr(mde).alias("mde_cents"),
    )


def _power_oracle() -> str:
    mde = (
        f"CASE WHEN n < 2 OR n_a = 0 OR n - n_a = 0 THEN NULL ELSE"
        f" (CAST({Z_ALPHA2!r} AS DOUBLE) + CAST({Z_BETA!r} AS DOUBLE))"
        f" * sqrt(((CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)"
        f"          / (n - 1))"
        f"        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / (n - n_a))) END"
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS x,
         {h32_sql("'cuped:' || user_id::VARCHAR")} % 2 AS arm
  FROM events GROUP BY user_id
),
sums AS (
  SELECT count(*)::BIGINT AS n, sum(x::HUGEINT) AS s,
         sum(x::HUGEINT * x) AS ss,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a
  FROM per_user
)
SELECT n AS n_users, n_a, CAST(n - n_a AS BIGINT) AS n_b,
       CASE WHEN n = 0 THEN NULL ELSE
         CAST((1000 * s) // n AS BIGINT) END AS mean_cents_milli,
       {mde} AS mde_cents
FROM sums
"""


# --------------------------------------------------------------------------
# cmh_return_rate_strata
# --------------------------------------------------------------------------


def cmh_return_rate_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel test for the order-return rate across
    an A/A split, STRATIFIED by customer nation — the pooled-2×2 test
    an experimentation platform needs when the outcome's base rate
    differs by segment (a plain two-proportion z like
    [[wilson_ci_return_rate]]'s CI is confounded by mix; CMH pools
    the per-stratum evidence): z = (Σaᵢ − ΣEᵢ)/√(ΣVᵢ) over the 25
    nation strata, arm = md5('cmh:'||custkey) % 2, outcome = the
    order contains ≥1 returned line item.

    Determinism: Σaᵢ is an exact integer; Eᵢ and Vᵢ are per-STRATUM
    doubles (one identical IEEE DAG on exact counts — per-row doubles
    are safe; only float SUMS are order-dependent) floored to integer
    micro-units, so the cross-stratum sums are pure integers and
    order-independent; z is one final identical DAG. floor() (never a
    bare double→int cast: Spark truncates, DuckDB rounds).

    Scale: one orders×(returned-orders) left-semi-derived flag +
    one orders×customer broadcast-key join, one nation-keyed rollup;
    the test itself runs on the ≤25-row stratum relation."""
    returned = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("rok"))
        .distinct()
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    flagged = (
        orders.join(returned, orders.o_orderkey == returned.rok, "left")
        .select(
            "o_custkey",
            F.col("rok").isNotNull().cast("bigint").alias("ret"),
            (
                h32(F.concat(F.lit("cmh:"), F.col("o_custkey").cast("string")))
                % 2
            ).alias("arm"),
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    strata = flagged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("arm") == 0).cast("bigint")).alias("n1"),
        F.sum("ret").alias("m1"),
        F.sum(F.expr("CASE WHEN arm = 0 THEN ret ELSE 0 END")).alias("a"),
    )
    e_micro = (
        "CASE WHEN n = 0 THEN 0 ELSE CAST(floor("
        " (CAST(n1 AS DOUBLE) * m1 / n) * 1000000) AS BIGINT) END"
    )
    v_micro = (
        "CASE WHEN n < 2 THEN 0 ELSE CAST(floor("
        " (CAST(n1 AS DOUBLE) * (n - n1) * m1 * (n - m1)"
        "  / (CAST(n AS DOUBLE) * n * (n - 1))) * 1000000) AS BIGINT) END"
    )
    return (
        strata.agg(
            F.count(F.lit(1)).alias("n_strata"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.sum("a"), F.lit(0)).alias("sum_a"),
            F.coalesce(F.sum(F.expr(e_micro)), F.lit(0)).alias("e_micro"),
            F.coalesce(F.sum(F.expr(v_micro)), F.lit(0)).alias("v_micro"),
        )
        .select(
            F.col("n_strata").cast("bigint").alias("n_strata"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("sum_a").cast("bigint").alias("sum_a"),
            F.expr(
                "CASE WHEN v_micro = 0 THEN NULL ELSE"
                " (CAST(1000000 * sum_a - e_micro AS DOUBLE))"
                " / sqrt(1000000.0 * CAST(v_micro AS DOUBLE)) END"
            ).alias("cmh_z"),
        )
    )


_CMH_SQL = f"""
WITH returned AS (
  SELECT DISTINCT l_orderkey AS rok FROM lineitem WHERE l_returnflag = 'R'
),
flagged AS (
  SELECT o.o_custkey,
         CASE WHEN r.rok IS NOT NULL THEN 1 ELSE 0 END AS ret,
         {h32_sql("'cmh:' || o.o_custkey::VARCHAR")} % 2 AS arm,
         c.c_nationkey
  FROM orders o
  LEFT JOIN returned r ON o.o_orderkey = r.rok
  JOIN customer c ON o.o_custkey = c.c_custkey
),
strata AS (
  SELECT c_nationkey, count(*)::BIGINT AS n,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(ret)::BIGINT AS m1,
         sum(CASE WHEN arm = 0 THEN ret ELSE 0 END)::BIGINT AS a
  FROM flagged GROUP BY c_nationkey
),
agg AS (
  SELECT count(*)::BIGINT AS n_strata,
         coalesce(sum(n), 0)::BIGINT AS n_orders,
         coalesce(sum(a), 0)::BIGINT AS sum_a,
         coalesce(sum(CASE WHEN n = 0 THEN 0 ELSE CAST(floor(
           (CAST(n1 AS DOUBLE) * m1 / n) * 1000000) AS BIGINT) END), 0)
           AS e_micro,
         coalesce(sum(CASE WHEN n < 2 THEN 0 ELSE CAST(floor(
           (CAST(n1 AS DOUBLE) * (n - n1) * m1 * (n - m1)
            / (CAST(n AS DOUBLE) * n * (n - 1))) * 1000000) AS BIGINT) END), 0)
           AS v_micro
  FROM strata
)
SELECT n_strata, n_orders, sum_a,
       CASE WHEN v_micro = 0 THEN NULL ELSE
         (CAST(1000000 * sum_a - e_micro AS DOUBLE))
         / sqrt(1000000.0 * CAST(v_micro AS DOUBLE)) END AS cmh_z
FROM agg
"""


# --------------------------------------------------------------------------
# kendall_tau_daily
# --------------------------------------------------------------------------


def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between daily event VOLUME and daily event VALUE
    — the rank-based twin of [[daily_cross_correlation]]'s lag-0 cell
    and [[spearman_daily_rho]]'s sibling (τ weights each discordant
    PAIR equally; ρ squares rank gaps — run both, disagreement means
    a few wild days carry the relationship). τ-b corrects for ties on
    either margin, which matters here: small-count days tie on volume
    constantly.

    Exactness: concordant/discordant/tie counts are exact BIGINTs
    (sign tests on integer differences — no float ever classifies a
    pair); tie-pair corrections n1/n2 come from marginal COUNT
    aggregates, never the pair join; τ-b is then ONE identical IEEE
    DAG (nc−nd)/√((n0−n1)(n0−n2)), NULL when either factor is 0.

    Scale: the pair stage is a broadcast nested-loop self-join of the
    DAILY rollup — a calendar-bounded relation (≤ a few thousand rows
    at ANY corpus size), so D² stays trivial at 100 TB; the tie
    corrections are two map-side-combined aggregates over the same
    rollup. Nothing touches raw events twice."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_timestamp(ts) div {DAY_SECONDS}").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias("y"),
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    pair_counts = (
        a.join(F.broadcast(b), F.col("a.d") < F.col("b.d"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_if(
                ((F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
                | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") > F.col("b.y")))
            ).alias("nc"),
            F.count_if(
                ((F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y")))
                | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
            ).alias("nd"),
        )
    )
    tx = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("n1"), F.sum("t").alias("n_days"))
    )
    ty = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.expr("t * (t - 1) div 2")).alias("n2"))
    )
    return (
        pair_counts.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("nc").cast("bigint").alias("concordant"),
            F.col("nd").cast("bigint").alias("discordant"),
            F.col("n1").cast("bigint").alias("tie_pairs_x"),
            F.col("n2").cast("bigint").alias("tie_pairs_y"),
            F.expr(
                "CASE WHEN n_pairs - n1 <= 0 OR n_pairs - n2 <= 0 THEN NULL ELSE"
                " (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))"
                " / sqrt(CAST(n_pairs - n1 AS DOUBLE) * CAST(n_pairs - n2 AS DOUBLE))"
                " END"
            ).alias("tau_b"),
        )
    )


_KENDALL_SQL = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 1000000 // {DAY_SECONDS} AS d,
         count(*)::BIGINT AS x,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS y
  FROM events GROUP BY 1
),
pair_counts AS (
  SELECT count(*)::BIGINT AS n_pairs,
         sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
                  THEN 1 ELSE 0 END)::BIGINT AS nc,
         sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
                  THEN 1 ELSE 0 END)::BIGINT AS nd
  FROM daily a JOIN daily b ON a.d < b.d
),
tx AS (
  SELECT sum(t * (t - 1) // 2)::BIGINT AS n1, sum(t)::BIGINT AS n_days
  FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY x)
),
ty AS (
  SELECT sum(t * (t - 1) // 2)::BIGINT AS n2
  FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY y)
)
SELECT n_days,
       nc AS concordant, nd AS discordant,
       n1 AS tie_pairs_x, n2 AS tie_pairs_y,
       CASE WHEN n_pairs - n1 <= 0 OR n_pairs - n2 <= 0 THEN NULL ELSE
         (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
         / sqrt(CAST(n_pairs - n1 AS DOUBLE) * CAST(n_pairs - n2 AS DOUBLE))
       END AS tau_b
FROM pair_counts, tx, ty
"""


# --------------------------------------------------------------------------
# brown_forsythe_priority
# --------------------------------------------------------------------------


def brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test across the five
    order-priority classes — the assumption [[anova_f_order_priority]]
    quietly makes (equal within-group variance) gets its own referee:
    one-way ANOVA-F on |x − median_g| (the median-centered Levene
    variant, robust to heavy tails — the reason Brown–Forsythe beats
    the mean-centered original on revenue-like data).

    Exactness: the group centers are LOWER MEDIANS (the value at rank
    ⌈n_g/2⌉ — a raw data cent, never an interpolated half-cent), so
    every deviation is an exact integer and the sufficient statistics
    ride DECIMAL(38,0)/HUGEINT exactly like the ANOVA face; F is the
    same fixed-order IEEE DAG with the same degenerate-regime NULLs.

    Scale: one rank window PARTITIONED BY the 5-value group key to
    pick medians, then one map-side-combined aggregate over the same
    pass's output — two shuffles total, both on the group key."""
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    w = Window.partitionBy("g").orderBy("c")
    devs = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("g"), F.expr(cents).alias("c"))
        .withColumn("r", F.row_number().over(w))
        .withColumn("n_g", F.count("*").over(Window.partitionBy("g")))
        .withColumn(
            "med",
            F.max(F.when(F.expr("r = (n_g + 1) div 2"), F.col("c"))).over(
                Window.partitionBy("g")
            ),
        )
        .select("g", F.abs(F.col("c") - F.col("med")).alias("dev"))
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(CAST(dev AS DECIMAL(38,0)))").alias("s"),
        F.expr("sum(CAST(dev AS DECIMAL(38,0)) * dev)").alias("ss"),
    ]
    for i, prio in enumerate(_PRIORITIES, start=1):
        aggs.append(
            F.expr(f"sum(CASE WHEN g = '{prio}' THEN 1 ELSE 0 END)").alias(f"n_{i}")
        )
        aggs.append(
            F.expr(
                f"sum(CASE WHEN g = '{prio}' THEN CAST(dev AS DECIMAL(38,0)) ELSE 0 END)"
            ).alias(f"s_{i}")
        )
    sums = devs.agg(*aggs)
    k = " + ".join(
        f"(CASE WHEN n_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(1, len(_PRIORITIES) + 1)
    )
    tb = _anova_terms("CAST")
    return sums.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.expr(f"CAST({k} AS BIGINT)").alias("k_groups"),
        F.expr(f"CAST(({k}) - 1 AS BIGINT)").alias("df_between"),
        F.expr(f"CAST(n - ({k}) AS BIGINT)").alias("df_within"),
        F.expr(
            f"CASE WHEN n = 0 OR ({k}) < 2 OR n <= ({k})"
            f" OR CAST(ss AS DOUBLE) - ({tb}) <= 0 THEN NULL ELSE"
            f" ((({tb}) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)"
            f"  / (({k}) - 1))"
            f" / ((CAST(ss AS DOUBLE) - ({tb})) / (n - ({k}))) END"
        ).alias("bf_stat"),
    )


def _bf_oracle() -> str:
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    group_cols = []
    for i, prio in enumerate(_PRIORITIES, start=1):
        group_cols.append(f"sum(CASE WHEN g = '{prio}' THEN 1 ELSE 0 END) AS n_{i}")
        group_cols.append(
            f"sum(CASE WHEN g = '{prio}' THEN dev::HUGEINT ELSE 0 END) AS s_{i}"
        )
    k = " + ".join(
        f"(CASE WHEN n_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(1, len(_PRIORITIES) + 1)
    )
    tb = _anova_terms("CAST")
    return f"""
WITH ranked AS (
  SELECT o_orderpriority AS g, {cents} AS c,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY {cents}) AS r,
         count(*) OVER (PARTITION BY o_orderpriority) AS n_g
  FROM orders
),
meds AS (SELECT g, c AS med FROM ranked WHERE r = (n_g + 1) // 2),
devs AS (
  SELECT ranked.g, abs(c - med) AS dev
  FROM ranked JOIN meds ON ranked.g = meds.g
),
sums AS (
  SELECT count(*)::BIGINT AS n, sum(dev::HUGEINT) AS s,
         sum(dev::HUGEINT * dev) AS ss,
         {", ".join(group_cols)}
  FROM devs
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST({k} AS BIGINT) AS k_groups,
       CAST(({k}) - 1 AS BIGINT) AS df_between,
       CAST(n - ({k}) AS BIGINT) AS df_within,
       CASE WHEN n = 0 OR ({k}) < 2 OR n <= ({k})
            OR CAST(ss AS DOUBLE) - ({tb}) <= 0 THEN NULL ELSE
         ((({tb}) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
          / (({k}) - 1))
         / ((CAST(ss AS DOUBLE) - ({tb})) / (n - ({k}))) END AS bf_stat
FROM sums
"""


QUERIES = (
    (kendall_tau_daily, _KENDALL_SQL),
    (brown_forsythe_priority, _bf_oracle()),
    (permutation_test_ab, _PERM_SQL),
    (bayesian_bootstrap_revenue_ci, _BOOT_SQL),
    (anova_f_order_priority, _anova_oracle()),
    (daily_cross_correlation, _XCORR_SQL),
    (conformal_forecast_intervals, _CONFORMAL_SQL),
    (bh_fdr_nation_drift, _bh_oracle()),
    (cramers_v_nation_segment, _CRAMER_SQL),
    (ab_power_mde_report, _power_oracle()),
    (cmh_return_rate_strata, _CMH_SQL),
)
