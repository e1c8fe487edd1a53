"""Probabilistic-forecast quality of the linear document scorer:
Murphy's Brier decomposition, isotonic (PAVA) recalibration, and
exact average precision.

[beyond-reference] per SURVEY.md §2.2: the reference
(antonylucas/rdbms-metadata-manager, app.py) has no scoring surface;
these complete the scorer-evaluation ladder —
[[quality_scorer_auc]] grades the RANKING, [[score_calibration_bins]]
eyeballs monotonicity, [[brier_score_decomposition]] says how much of
the squared-error loss is mis-CALIBRATION vs missing RESOLUTION
(Murphy 1973's reliability/resolution/uncertainty split),
[[isotonic_calibration_pava]] produces the monotone recalibration map
a deployment would actually apply (pool-adjacent-violators via the
max-min interval-average characterization — Ayer et al. 1955,
Robertson–Wright–Dykstra §1.2), and [[average_precision_scorer]] is
the retrieval-style summary ([[retrieval_eval_metrics]] grades ANN
runs; this grades the quality scorer as a ranker of keep-worthy
documents).

The forecast is the shared CLF score squashed to per-mille
probability by a clamped linear map p = clamp(500 + score div 3,
0..1000) — monotone in the score (so AP/AUC-style rank facts carry
over) and integer on both engines; forecast bins are per-mille
deciles. All sufficient statistics are exact integers; every
division is a truncating integer div on both engines; no float ever
enters a comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load_spread
from ..queries.prefix import one_group, ranged_prefix
from .curation import (
    _DOC_FEATURES_CTES,
    CLF_SCORE_EXPR,
    CLF_SCORE_SQL,
    RULE_KEEP_PRED,
    _doc_features,
)

# per-mille forecast: clamp(500 + score/3) — the divisor spreads the
# observed score range (~[-1140, 744] on the synthetic corpus) across
# the unit interval without saturating the clamps for typical docs.
P_PM = "least(1000, greatest(0, 500 + (score) div 3))"
P_PM_SQL = "least(1000, greatest(0, 500 + (score) // 3))"
BIN_W = 100  # per-mille decile bins


def _forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    return feats.select(
        "doc_id",
        F.expr(f"least(1000, greatest(0, 500 + ({CLF_SCORE_EXPR}) div 3))").alias(
            "p_pm"
        ),
        F.expr(f"CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END").alias("o"),
    )


_FORECAST_CTE = f"""
fc AS (
  SELECT doc_id,
         least(1000, greatest(0, 500 + ({CLF_SCORE_SQL}) // 3)) AS p_pm,
         CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END AS o
  FROM scored
)
"""


# --------------------------------------------------------------------------
# brier_score_decomposition
# --------------------------------------------------------------------------


def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the scorer-as-forecaster's Brier score
    against the rule gate's verdict: BS ≈ REL − RES + UNC.
    RELiability is the calibration gap the forecast bins carry
    (p̄_bin vs observed keep rate — what [[isotonic_calibration_pava]]
    removes), RESolution is how far the bins pull outcomes away from
    the base rate (what no recalibration can add), and UNCertainty
    ō(1−ō) is the floor set by the labels alone. The one-number
    [[score_calibration_bins]] companion a forecast review starts
    from.

    Exactness: with per-mille forecasts and 0/1 outcomes every term
    is a ratio of exact integers — BS·n = Σ(p_pm − 1000·o)²,
    bin reliability (S_k − 1000·kept_k)² div n_k, bin resolution via
    the Σkept²/n_k − K²/n expansion — all on DECIMAL(38,0)/HUGEINT
    with truncating divs; no float anywhere. (Decile bins are not
    forecast-homogeneous, so the identity holds up to the standard
    within-bin variance term — the reported components are each
    exact for the binned forecaster.)

    Scale: one _doc_features corpus pass, one ≤11-bin rollup, one
    scalar aggregate."""
    fc = _forecasts(spark, sf_dir).localCheckpoint(eager=False)
    bins = fc.groupBy(F.expr(f"p_pm div {BIN_W}").alias("bin")).agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("o").alias("kept_k"),
        F.sum(F.col("p_pm").cast("decimal(38,0)")).alias("s_k"),
    )
    binagg = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(
            F.expr(
                "((s_k - 1000 * CAST(kept_k AS DECIMAL(38,0)))"
                " * (s_k - 1000 * CAST(kept_k AS DECIMAL(38,0)))) div n_k"
            )
        ).alias("rel_sum"),
        F.sum(
            F.expr(
                "(1000000 * CAST(kept_k AS DECIMAL(38,0)) * kept_k) div n_k"
            )
        ).alias("res_sum"),
    )
    rows = fc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o").alias("kk"),
        F.sum(
            F.expr(
                "CAST(p_pm - 1000 * o AS DECIMAL(38,0)) * (p_pm - 1000 * o)"
            )
        ).alias("bs_sum"),
    )
    return rows.crossJoin(F.broadcast(binagg)).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n_bins").cast("bigint").alias("n_bins"),
        F.expr("CASE WHEN n = 0 THEN NULL ELSE CAST(bs_sum div n AS BIGINT) END").alias(
            "brier_micro"
        ),
        F.expr(
            "CASE WHEN n = 0 THEN NULL ELSE CAST(rel_sum div n AS BIGINT) END"
        ).alias("reliability_micro"),
        F.expr(
            "CASE WHEN n = 0 THEN NULL ELSE"
            " CAST((res_sum - (1000000 * CAST(kk AS DECIMAL(38,0)) * kk) div n)"
            " div n AS BIGINT) END"
        ).alias("resolution_micro"),
        F.expr(
            "CASE WHEN n = 0 THEN NULL ELSE"
            " CAST((1000000 * CAST(kk AS DECIMAL(38,0)) * (n - kk))"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) END"
        ).alias("uncertainty_micro"),
    )


_BRIER_SQL = f"""
WITH {_DOC_FEATURES_CTES},
{_FORECAST_CTE},
bins AS (
  SELECT p_pm // {BIN_W} AS bin, count(*)::BIGINT AS n_k,
         sum(o)::BIGINT AS kept_k, sum(p_pm::HUGEINT) AS s_k
  FROM fc GROUP BY 1
),
binagg AS (
  SELECT count(*)::BIGINT AS n_bins,
         sum(((s_k - 1000 * kept_k::HUGEINT)
              * (s_k - 1000 * kept_k::HUGEINT)) // n_k) AS rel_sum,
         sum((1000000 * kept_k::HUGEINT * kept_k) // n_k) AS res_sum
  FROM bins
),
rows_ AS (
  SELECT count(*)::BIGINT AS n, sum(o)::BIGINT AS kk,
         sum((p_pm - 1000 * o)::HUGEINT * (p_pm - 1000 * o)) AS bs_sum
  FROM fc
)
SELECT n AS n_docs, n_bins,
       CASE WHEN n = 0 THEN NULL ELSE CAST(bs_sum // n AS BIGINT) END
         AS brier_micro,
       CASE WHEN n = 0 THEN NULL ELSE CAST(rel_sum // n AS BIGINT) END
         AS reliability_micro,
       CASE WHEN n = 0 THEN NULL ELSE
         CAST((res_sum - (1000000 * kk::HUGEINT * kk) // n) // n AS BIGINT) END
         AS resolution_micro,
       CASE WHEN n = 0 THEN NULL ELSE
         CAST((1000000 * kk::HUGEINT * (n - kk)) // (n::HUGEINT * n) AS BIGINT) END
         AS uncertainty_micro
FROM rows_, binagg
"""


# --------------------------------------------------------------------------
# isotonic_calibration_pava
# --------------------------------------------------------------------------


def isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic recalibration of the forecast bins — the weighted
    L2 pool-adjacent-violators fit, computed via its closed-form
    minimax characterization: fitted(b) = max_{i≤b} min_{j≥b}
    weighted-avg(bins i..j) (Ayer et al. 1955; identical to running
    PAVA, but expressible as bounded joins instead of a sequential
    loop — the Spark-shaped formulation). Where
    [[brier_score_decomposition]] MEASURES the reliability gap, this
    produces the monotone map that closes it; the fitted column is
    non-decreasing by construction, pools exactly where the raw
    keep-rate curve of [[score_calibration_bins]] inverts, and leaves
    already-monotone stretches untouched.

    Exactness: interval averages are truncating per-mille integer
    divs of exact (keeps, docs) prefix sums — min/max over integers,
    so the fit is bit-identical across engines (the statistic is
    DEFINED over floored per-mille averages; flooring is monotone,
    so pooling structure is preserved).

    Scale: the corpus collapses to ≤11 forecast-decile bins in one
    pass; the O(B³) interval machinery runs on that bounded relation
    (the sanctioned ≤K-row regime — `one_group` windows and
    broadcast self-joins)."""
    fc = _forecasts(spark, sf_dir)
    bins = (
        fc.groupBy(F.expr(f"p_pm div {BIN_W}").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_k"), F.sum("o").alias("kept_k"))
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy(one_group(F.col("bin")))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bins.select(
        "bin",
        "n_k",
        "kept_k",
        F.sum("n_k").over(w).alias("cn"),
        F.sum("kept_k").over(w).alias("ck"),
    ).localCheckpoint(eager=False)
    lo = cum.select(
        F.col("bin").alias("i"),
        (F.col("cn") - F.col("n_k")).alias("cn_lo"),
        (F.col("ck") - F.col("kept_k")).alias("ck_lo"),
    )
    hi = cum.select(
        F.col("bin").alias("j"), F.col("cn").alias("cn_hi"), F.col("ck").alias("ck_hi")
    )
    intervals = (
        lo.join(F.broadcast(hi), F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            F.expr("(1000 * (ck_hi - ck_lo)) div (cn_hi - cn_lo)").alias("avg_pm"),
        )
    )
    b = cum.select(F.col("bin").alias("b"))
    fitted = (
        b.join(
            F.broadcast(intervals),
            (F.col("i") <= F.col("b")) & (F.col("b") <= F.col("j")),
        )
        .groupBy("b", "i")
        .agg(F.min("avg_pm").alias("lo_min"))
        .groupBy("b")
        .agg(F.max("lo_min").alias("iso_rate_pm"))
    )
    return (
        cum.join(fitted, cum["bin"] == fitted["b"])
        .select(
            F.col("bin").cast("bigint").alias("score_bin"),
            F.col("n_k").cast("bigint").alias("n_docs"),
            F.col("kept_k").cast("bigint").alias("n_kept"),
            F.expr("(1000 * kept_k) div n_k").cast("bigint").alias("raw_rate_pm"),
            F.col("iso_rate_pm").cast("bigint").alias("iso_rate_pm"),
        )
        .orderBy("score_bin")
    )


_PAVA_SQL = f"""
WITH {_DOC_FEATURES_CTES},
{_FORECAST_CTE},
bins AS (
  SELECT p_pm // {BIN_W} AS bin, count(*)::BIGINT AS n_k, sum(o)::BIGINT AS kept_k
  FROM fc GROUP BY 1
),
cum AS (
  SELECT bin, n_k, kept_k,
         sum(n_k) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         sum(kept_k) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
  FROM bins
),
intervals AS (
  SELECT lo.bin AS i, hi.bin AS j,
         (1000 * (hi.ck - (lo.ck - lo.kept_k)))
           // (hi.cn - (lo.cn - lo.n_k)) AS avg_pm
  FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
),
fitted AS (
  SELECT b, max(lo_min) AS iso_rate_pm
  FROM (
    SELECT c.bin AS b, iv.i, min(iv.avg_pm) AS lo_min
    FROM cum c JOIN intervals iv ON iv.i <= c.bin AND c.bin <= iv.j
    GROUP BY c.bin, iv.i
  )
  GROUP BY b
)
SELECT cum.bin AS score_bin, n_k AS n_docs, kept_k AS n_kept,
       CAST((1000 * kept_k) // n_k AS BIGINT) AS raw_rate_pm,
       CAST(iso_rate_pm AS BIGINT) AS iso_rate_pm
FROM cum JOIN fitted ON fitted.b = cum.bin
ORDER BY score_bin
"""


# --------------------------------------------------------------------------
# average_precision_scorer
# --------------------------------------------------------------------------


def average_precision_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision of the quality scorer ranking against
    the rule gate's keep verdict — the area under the precision-
    recall STEP curve, the number that (unlike
    [[quality_scorer_auc]]'s ROC-AUC) doesn't inflate when keeps are
    rare: AP = (1/P)·Σ_{relevant k} precision@k over the
    (score DESC, doc_id) total order, plus the precision@10/@100
    cutoffs a manual-review queue actually staffs to.

    Exactness: the ranking is a TOTAL order (doc_id tiebreak), ranks
    and relevant-prefix counts are exact integers, each
    precision@k term is the truncating micro-div (1e6·cum_pos) div k
    — per-term flooring, then an integer sum, then one final
    truncating div by P: no float enters any comparison or sum.

    Scale: rank and running relevant-count come from the range-
    partitioned ``ranged_prefix`` kernel over the score order — no
    single-partition window over the corpus — followed by one
    map-side-combined aggregate."""
    fc = (
        _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
        .select(
            "doc_id",
            F.expr(f"({CLF_SCORE_EXPR})").alias("score"),
            F.expr(f"CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END").alias("pos"),
        )
    )
    ranked = ranged_prefix(
        fc,
        [F.col("score").desc(), F.col("doc_id").asc()],
        sum_cols=["pos"],
        rank_col="k",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum(
            F.expr(
                "CASE WHEN pos = 1 THEN (1000000 * CAST(cum_pos AS DECIMAL(38,0)))"
                " div k ELSE 0 END"
            )
        ).alias("ap_sum"),
        F.max(F.expr("CASE WHEN k = 10 THEN (1000 * cum_pos) div 10 END")).alias(
            "p10"
        ),
        F.max(F.expr("CASE WHEN k = 100 THEN (1000 * cum_pos) div 100 END")).alias(
            "p100"
        ),
    ).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.expr(
            "CASE WHEN n_pos = 0 THEN NULL ELSE CAST(ap_sum div n_pos AS BIGINT) END"
        ).alias("ap_micro"),
        F.col("p10").cast("bigint").alias("p_at_10_pm"),
        F.col("p100").cast("bigint").alias("p_at_100_pm"),
    )


_AP_SQL = f"""
WITH {_DOC_FEATURES_CTES},
fc AS (
  SELECT doc_id, ({CLF_SCORE_SQL}) AS score,
         CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END AS pos
  FROM scored
),
ranked AS (
  SELECT pos,
         row_number() OVER (ORDER BY score DESC, doc_id) AS k,
         sum(pos) OVER (ORDER BY score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
  FROM fc
),
agg AS (
  SELECT count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
         sum(CASE WHEN pos = 1 THEN (1000000 * cum_pos::HUGEINT) // k
             ELSE 0 END) AS ap_sum,
         max(CASE WHEN k = 10 THEN (1000 * cum_pos) // 10 END)::BIGINT AS p10,
         max(CASE WHEN k = 100 THEN (1000 * cum_pos) // 100 END)::BIGINT AS p100
  FROM ranked
)
SELECT n AS n_docs, n_pos,
       CASE WHEN n_pos = 0 THEN NULL ELSE CAST(ap_sum // n_pos AS BIGINT) END
         AS ap_micro,
       p10 AS p_at_10_pm, p100 AS p_at_100_pm
FROM agg
"""


QUERIES = (
    (brier_score_decomposition, _BRIER_SQL),
    (isotonic_calibration_pava, _PAVA_SQL),
    (average_precision_scorer, _AP_SQL),
)
