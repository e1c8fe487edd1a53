"""Round-8 second-session operators: the nonparametric/trend batch
(queries/nonparam.py) and the forecast-calibration trio
(llm/calibration.py): independent pure-Python recomputations —
brute-force Jonckheere–Terpstra over raw pairs, tie-corrected
Friedman from scratch, numpy-free Welch/DW/CA algebra, exact-Fraction
sequential PAVA vs the minimax formulation, and a literal rank-walk
average precision. Their oracle parity is test_oracle_parity's."""

from __future__ import annotations

import os
from fractions import Fraction

import duckdb
import pytest

from rdbms_metadata_manager_spark.registry import all_oracles, all_queries

from conftest import SF_DIR, assert_matches_oracle


def _con(sf_dir):
    con = duckdb.connect()
    for t in ["orders", "events", "documents"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.mark.parametrize(
    "mod_path, name",
    [
        ("rdbms_metadata_manager_spark.queries.profiling", "hilbert_curve_locality"),
        ("rdbms_metadata_manager_spark.queries.modern", "kmins_distinct_audit"),
    ],
)
def test_layout_sketch_matches_oracle(spark, sf_dir, mod_path, name):
    fn = all_queries()[name]
    assert fn.__module__ == mod_path
    assert_matches_oracle(fn(spark, sf_dir), all_oracles()[name], sf_dir)


# ---------------------------------------------------------------------------
# jonckheere_terpstra_priority — brute force over raw pairs
# ---------------------------------------------------------------------------


def test_jt_brute_force(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import (
        jonckheere_terpstra_priority,
    )

    con = _con(sf_dir)
    rows = con.execute(
        "SELECT CAST(substr(o_orderpriority,1,1) AS INT),"
        " CAST(floor(o_totalprice*100+0.5) AS BIGINT) FROM orders"
    ).fetchall()
    con.close()
    n = len(rows)
    # doubled JT: 2 per strictly-ordered concordant pair, 1 per
    # across-group value tie
    jt2 = 0
    for a in range(n):
        ga, va = rows[a]
        for b in range(n):
            gb, vb = rows[b]
            if ga < gb:
                if va < vb:
                    jt2 += 2
                elif va == vb:
                    jt2 += 1
    got = jonckheere_terpstra_priority(spark, sf_dir).collect()[0]
    assert got["n_orders"] == n
    assert got["jt_milli_per_pair"] == (1000 * jt2) // (n * (n - 1))
    # no-ties-free z sanity: mean2 per pair and z finite
    assert got["jt_z"] is not None


# ---------------------------------------------------------------------------
# friedman_daily_event_types — tie-corrected recompute from scratch
# ---------------------------------------------------------------------------


def test_friedman_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import (
        friedman_daily_event_types,
    )

    con = _con(sf_dir)
    cells = con.execute(
        "SELECT epoch_us(ts)//1000000//86400 AS d, event_type, count(*)"
        " FROM events GROUP BY 1, 2"
    ).fetchall()
    con.close()
    days = sorted({r[0] for r in cells})
    types = sorted({r[1] for r in cells})
    cnt = {(d, t): 0 for d in days for t in types}
    for d, t, c in cells:
        cnt[(d, t)] = c
    k, n = len(types), len(days)
    r2sum = dict.fromkeys(types, 0)
    a4 = 0
    for d in days:
        vals = sorted(cnt[(d, t)] for t in types)
        for t in types:
            v = cnt[(d, t)]
            lt = sum(1 for x in vals if x < v)
            eq = sum(1 for x in vals if x == v)
            r2 = 2 * lt + eq + 1  # doubled midrank
            r2sum[t] += r2
            a4 += r2 * r2
    sum_r2sq = sum(v * v for v in r2sum.values())
    den = a4 - n * k * (k + 1) * (k + 1)
    want = (1000 * (k - 1) * (sum_r2sq - n * n * k * (k + 1) * (k + 1))) // den
    got = friedman_daily_event_types(spark, sf_dir).collect()[0]
    assert (got["n_days"], got["k_types"], got["df"]) == (n, k, k - 1)
    assert got["chi2_pm"] == want


# ---------------------------------------------------------------------------
# welch_t_ab / cochran_armitage_trend / durbin_watson_daily — algebra
# ---------------------------------------------------------------------------


def test_welch_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import welch_t_ab

    con = _con(sf_dir)
    rows = con.execute(
        "SELECT ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 8))::BIGINT % 2,"
        " sum(CAST(floor(value*100+0.5) AS BIGINT))"
        " FROM events GROUP BY user_id"
    ).fetchall()
    con.close()
    arms = {0: [], 1: []}
    for a, c in rows:
        arms[a].append(c)
    n0, n1 = len(arms[0]), len(arms[1])
    m0, m1 = sum(arms[0]) / n0, sum(arms[1]) / n1
    v0 = sum((x - m0) ** 2 for x in arms[0]) / (n0 - 1)
    v1 = sum((x - m1) ** 2 for x in arms[1]) / (n1 - 1)
    se2 = v1 / n1 + v0 / n0
    t = (m1 - m0) / se2**0.5
    df = se2 * se2 / ((v1 / n1) ** 2 / (n1 - 1) + (v0 / n0) ** 2 / (n0 - 1))
    got = welch_t_ab(spark, sf_dir).collect()[0]
    assert (got["n_ctrl"], got["n_treat"]) == (n0, n1)
    assert got["t_stat"] == pytest.approx(t, rel=1e-9)
    assert got["df_welch"] == pytest.approx(df, rel=1e-9)


def test_cochran_armitage_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import cochran_armitage_trend

    con = _con(sf_dir)
    rows = con.execute(
        "SELECT CAST(substr(o_orderpriority,1,1) AS INT),"
        " CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END FROM orders"
    ).fetchall()
    con.close()
    n = len(rows)
    rr = sum(r for _, r in rows)
    swr = sum(w * r for w, r in rows)
    swn = sum(w for w, _ in rows)
    sw2n = sum(w * w for w, _ in rows)
    num = n * swr - rr * swn
    den2 = rr * (n - rr) * (n * sw2n - swn * swn)
    z = num * n**0.5 / den2**0.5
    got = cochran_armitage_trend(spark, sf_dir).collect()[0]
    assert (got["n_orders"], got["n_finished"]) == (n, rr)
    assert got["finished_rate_pm"] == (1000 * rr) // n
    assert got["ca_z"] == pytest.approx(z, rel=1e-9)


def test_durbin_watson_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import durbin_watson_daily

    con = _con(sf_dir)
    daily = con.execute(
        "SELECT epoch_us(ts)//1000000//86400 AS d, count(*) FROM events"
        " GROUP BY 1 ORDER BY 1"
    ).fetchall()
    con.close()
    n = len(daily)
    sx = sum(d for d, _ in daily)
    sy = sum(y for _, y in daily)
    sxx = sum(d * d for d, _ in daily)
    sxy = sum(d * y for d, y in daily)
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    es = [y - a - b * d for d, y in daily]
    dw = sum((es[i] - es[i - 1]) ** 2 for i in range(1, n)) / sum(e * e for e in es)
    got = durbin_watson_daily(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    # micro-flooring perturbs each quadratic term by < 1e-6
    assert got["dw_stat"] == pytest.approx(dw, rel=1e-4)
    assert 0 < got["dw_stat"] < 4


# ---------------------------------------------------------------------------
# mood_median_test / hodges_lehmann_shift — exact selection checks
# ---------------------------------------------------------------------------


def test_mood_median_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import mood_median_test

    con = _con(sf_dir)
    vals = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor(o_totalprice*100+0.5) AS BIGINT) FROM orders ORDER BY 1"
        ).fetchall()
    ]
    rows = con.execute(
        "SELECT CAST(substr(o_orderpriority,1,1) AS INT),"
        " CAST(floor(o_totalprice*100+0.5) AS BIGINT) FROM orders"
    ).fetchall()
    con.close()
    n = len(vals)
    med = vals[(n + 1) // 2 - 1]  # lower median
    got = mood_median_test(spark, sf_dir).collect()[0]
    assert got["n_orders"] == n
    assert got["grand_median_cents"] == med
    a = dict.fromkeys(range(1, 6), 0)
    t = dict.fromkeys(range(1, 6), 0)
    for g, v in rows:
        t[g] += 1
        if v > med:
            a[g] += 1
    atot = sum(a.values())
    import math

    chi2 = 0
    for g in range(1, 6):
        for o, coltot in ((a[g], atot), (t[g] - a[g], n - atot)):
            chi2 += math.floor(
                1000000 * float(o * n - t[g] * coltot) ** 2 / (n * t[g] * coltot)
            )
    assert got["chi2_micro"] == chi2


def test_hodges_lehmann_brute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import hodges_lehmann_shift

    con = _con(sf_dir)
    daily = con.execute(
        "SELECT epoch_us(ts)//1000000//86400 AS d,"
        " sum(CAST(floor(value*100+0.5) AS BIGINT)) FROM events GROUP BY 1"
    ).fetchall()
    con.close()
    we = [y for d, y in daily if (d + 3) % 7 >= 5]
    wd = [y for d, y in daily if (d + 3) % 7 < 5]
    diffs = sorted(a - b for a in we for b in wd)
    got = hodges_lehmann_shift(spark, sf_dir).collect()[0]
    assert got["n_weekend_days"] == len(we)
    assert got["n_weekday_days"] == len(wd)
    assert got["n_pairs"] == len(diffs)
    assert got["hl_shift_cents"] == diffs[(len(diffs) + 1) // 2 - 1]


# ---------------------------------------------------------------------------
# calibration trio — Fraction-exact PAVA, literal AP walk, Brier algebra
# ---------------------------------------------------------------------------


def _forecast_rows(sf_dir):
    """(p_pm, o) per doc, straight from the oracle's own CTE text so
    the Python recomputes below share the exact forecast definition."""
    from rdbms_metadata_manager_spark.llm.calibration import (
        _FORECAST_CTE,
        _DOC_FEATURES_CTES,
    )

    con = _con(sf_dir)
    rows = con.execute(
        f"WITH {_DOC_FEATURES_CTES}, {_FORECAST_CTE}"
        " SELECT doc_id, p_pm, o FROM fc ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def test_pava_equals_sequential_pava(spark, sf_dir):
    """The minimax max-min formulation (what the query computes, over
    FLOORED per-mille interval averages) must equal the classic
    sequential pool-adjacent-violators fit computed with exact
    Fractions and floored at the end — they coincide because floor is
    monotone and max/min commute with monotone maps."""
    from rdbms_metadata_manager_spark.llm.calibration import (
        BIN_W,
        isotonic_calibration_pava,
    )

    rows = _forecast_rows(sf_dir)
    bins: dict[int, list[int]] = {}
    for _, p, o in rows:
        b = p // BIN_W
        nk, kk = bins.get(b, (0, 0))
        bins[b] = (nk + 1, kk + o)
    order = sorted(bins)
    # classic PAVA with exact rational block means
    blocks = [
        [Fraction(1000 * bins[b][1], 1), Fraction(bins[b][0], 1), [b]]
        for b in order
    ]  # [weighted sum of 1000*rate, weight, members]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] / blocks[i][1] > blocks[i + 1][0] / blocks[i + 1][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            blocks[i][2] += blocks[i + 1][2]
            del blocks[i + 1]
            i = max(0, i - 1)
        else:
            i += 1
    want = {}
    for s, w, members in blocks:
        fitted = int(s / w)  # floor of the exact rational mean
        for b in members:
            want[b] = fitted
    got = {
        r["score_bin"]: r["iso_rate_pm"]
        for r in isotonic_calibration_pava(spark, sf_dir).collect()
    }
    assert got == want
    fitted_seq = [got[b] for b in sorted(got)]
    assert fitted_seq == sorted(fitted_seq), "isotonic fit must be monotone"


def test_average_precision_walk(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.calibration import (
        average_precision_scorer,
    )
    from rdbms_metadata_manager_spark.llm.curation import CLF_SCORE_SQL, RULE_KEEP_PRED
    from rdbms_metadata_manager_spark.llm.calibration import _DOC_FEATURES_CTES

    con = _con(sf_dir)
    rows = con.execute(
        f"WITH {_DOC_FEATURES_CTES}"
        f" SELECT doc_id, ({CLF_SCORE_SQL}) AS score,"
        f" CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END AS pos FROM scored"
        " ORDER BY score DESC, doc_id"
    ).fetchall()
    con.close()
    cum = 0
    ap_sum = 0
    p10 = p100 = None
    for k, (_, _, pos) in enumerate(rows, start=1):
        cum += pos
        if pos:
            ap_sum += (1000000 * cum) // k
        if k == 10:
            p10 = (1000 * cum) // 10
        if k == 100:
            p100 = (1000 * cum) // 100
    n_pos = cum
    got = average_precision_scorer(spark, sf_dir).collect()[0]
    assert got["n_docs"] == len(rows)
    assert got["n_pos"] == n_pos
    assert got["ap_micro"] == ap_sum // n_pos
    assert got["p_at_10_pm"] == p10
    assert got["p_at_100_pm"] == p100


def test_brier_decomposition_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.calibration import (
        BIN_W,
        brier_score_decomposition,
    )

    rows = _forecast_rows(sf_dir)
    n = len(rows)
    kk = sum(o for _, _, o in rows)
    bs = sum((p - 1000 * o) ** 2 for _, p, o in rows)
    bins: dict[int, list[int]] = {}
    for _, p, o in rows:
        b = p // BIN_W
        nk, k2, s = bins.get(b, (0, 0, 0))
        bins[b] = (nk + 1, k2 + o, s + p)
    rel = sum((s - 1000 * k2) ** 2 // nk for nk, k2, s in bins.values())
    res = sum((1000000 * k2 * k2) // nk for nk, k2, s in bins.values())
    got = brier_score_decomposition(spark, sf_dir).collect()[0]
    assert got["n_docs"] == n
    assert got["n_bins"] == len(bins)
    assert got["brier_micro"] == bs // n
    assert got["reliability_micro"] == rel // n
    assert got["resolution_micro"] == (res - (1000000 * kk * kk) // n) // n
    assert got["uncertainty_micro"] == (1000000 * kk * (n - kk)) // (n * n)
    # Murphy's identity holds for the BINNED forecaster up to the
    # within-bin variance and covariance terms, both bounded by the
    # bin width: WBV <= (BIN_W/1000)^2 and |2*cov| <= 2*(BIN_W/1000).
    lhs = got["brier_micro"]
    rhs = got["reliability_micro"] - got["resolution_micro"] + got["uncertainty_micro"]
    assert abs(lhs - rhs) <= 2 * 1000 * BIN_W + BIN_W * BIN_W + 10


# ---------------------------------------------------------------------------
# second-session batch 2 — independent recomputes
# ---------------------------------------------------------------------------


def _daily_counts(sf_dir):
    con = _con(sf_dir)
    rows = con.execute(
        "SELECT epoch_us(ts)//1000000//86400 AS d, count(*),"
        " sum(CAST(floor(value*100+0.5) AS BIGINT)) FROM events"
        " GROUP BY 1 ORDER BY 1"
    ).fetchall()
    con.close()
    return rows


def test_granger_recompute(spark, sf_dir):
    """Closed-form Cramer RSS vs numpy least-squares — two entirely
    different solution paths must land on the same F."""
    import numpy as np

    from rdbms_metadata_manager_spark.queries.nonparam import (
        granger_value_leads_volume,
    )

    daily = _daily_counts(sf_dir)
    y = np.array([r[1] for r in daily], dtype=float)
    v = np.array([float(r[2]) for r in daily])
    yt, a, b = y[1:], y[:-1], v[:-1]
    n = len(yt)

    def rss(X):
        beta, *_ = np.linalg.lstsq(X, yt, rcond=None)
        r = yt - X @ beta
        return float(r @ r)

    ones = np.ones(n)
    rss_r = rss(np.column_stack([ones, a]))
    rss_f = rss(np.column_stack([ones, a, b]))
    f_want = (rss_r - rss_f) * (n - 3) / rss_f
    got = granger_value_leads_volume(spark, sf_dir).collect()[0]
    assert got["n_days_used"] == n
    assert got["df_denom"] == n - 3
    assert got["f_granger"] == pytest.approx(f_want, rel=1e-6, abs=1e-9)


def test_kpss_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import kpss_level_daily

    daily = _daily_counts(sf_dir)
    ys = [r[1] for r in daily]
    n = len(ys)
    sy = sum(ys)
    syy = sum(y * y for y in ys)
    c = 0
    s2sum = 0
    for t, y in enumerate(ys, start=1):
        c += y
        st = n * c - t * sy
        s2sum += st * st
    want = (1000000 * s2sum) // (n * n * (n * syy - sy * sy))
    got = kpss_level_daily(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    assert got["kpss_micro"] == want


def test_seasonal_mk_brute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import seasonal_mann_kendall

    con = _con(sf_dir)
    daily = con.execute(
        "SELECT month(o_orderdate), epoch_us(o_orderdate)//1000000//86400,"
        " sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) FROM orders"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    con.close()
    s = 0
    strata: dict[int, list[int]] = {}
    for m, d, r in daily:
        strata.setdefault(m, []).append(r)
    for vals in strata.values():
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                s += (vals[j] > vals[i]) - (vals[j] < vals[i])
    var18 = 0
    for vals in strata.values():
        nm = len(vals)
        var18 += nm * (nm - 1) * (2 * nm + 5)
        cnt: dict[int, int] = {}
        for r in vals:
            cnt[r] = cnt.get(r, 0) + 1
        var18 -= sum(t * (t - 1) * (2 * t + 5) for t in cnt.values())
    got = seasonal_mann_kendall(spark, sf_dir).collect()[0]
    assert got["n_days"] == len(daily)
    assert got["n_seasons"] == len(strata)
    assert got["s_stat"] == s
    assert got["var_s_x18"] == var18


def test_ansari_bradley_recompute(spark, sf_dir):
    """Scores recomputed POSITIONALLY (sorted list, min-from-both-ends
    midrank scores) — validates the histogram/prefix derivation of
    2·cum − t + 1 and the doubled-score moments."""
    from rdbms_metadata_manager_spark.queries.nonparam import (
        ansari_bradley_dispersion,
    )

    con = _con(sf_dir)
    rows = con.execute(
        "SELECT ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 8))::BIGINT % 2,"
        " sum(CAST(floor(value*100+0.5) AS BIGINT))"
        " FROM events GROUP BY user_id"
    ).fetchall()
    con.close()
    vals = sorted(set(c for _, c in rows))
    from collections import Counter

    c0 = Counter(c for a, c in rows if a == 0)
    c1 = Counter(c for a, c in rows if a == 1)
    N = len(rows)
    ab2 = sa2 = saa4 = 0
    p = 0
    for v in vals:
        t = c0[v] + c1[v]
        midrank2 = 2 * p + t + 1
        score2 = min(midrank2, 2 * (N + 1) - midrank2)
        ab2 += c1[v] * score2
        sa2 += t * score2
        saa4 += t * score2 * score2
        p += t
    m, n2c = sum(c1.values()), sum(c0.values())
    e = m * sa2 / N
    var = m * n2c * (N * saa4 - sa2 * sa2) / (N * N * (N - 1))
    got = ansari_bradley_dispersion(spark, sf_dir).collect()[0]
    assert (got["n_ctrl"], got["n_treat"]) == (n2c, m)
    assert got["ab_x2"] == ab2
    assert got["ab_z"] == pytest.approx((ab2 - e) / var**0.5, rel=1e-9)


def test_partial_corr_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.nonparam import (
        partial_corr_volume_value,
    )

    daily = _daily_counts(sf_dir)
    xs = [r[1] for r in daily]
    ys = [float(r[2]) for r in daily]
    zs = [r[0] for r in daily]
    n = len(daily)

    def corr(a, b):
        sa, sb = sum(a), sum(b)
        sab = sum(x * y for x, y in zip(a, b))
        saa = sum(x * x for x in a)
        sbb = sum(y * y for y in b)
        return (n * sab - sa * sb) / ((n * saa - sa * sa) * (n * sbb - sb * sb)) ** 0.5

    rxy, rxz, ryz = corr(xs, ys), corr(xs, zs), corr(ys, zs)
    want = (rxy - rxz * ryz) / ((1 - rxz**2) * (1 - ryz**2)) ** 0.5
    got = partial_corr_volume_value(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    assert got["r_xy"] == pytest.approx(rxy, rel=1e-9)
    assert got["partial_r_xy_given_day"] == pytest.approx(want, rel=1e-9)


def test_hilbert_bijective_and_beats_zorder(spark, sf_dir):
    """(a) The unrolled SQL Hilbert stages are a bijection of the full
    256x256 grid (DuckDB evaluates the exact expression text shared
    with Spark); (b) on the fixture, Hilbert curve segments touch
    fewer distinct key values than Morton segments — the property the
    report exists to price."""
    import duckdb

    from rdbms_metadata_manager_spark.queries.profiling import (
        HILBERT_N,
        _hilbert_scales,
        _hilbert_stage_exprs,
        hilbert_curve_locality,
    )

    inner = (
        f"SELECT x AS ka, y AS kb, x, y, 0 AS d"
        f" FROM range({HILBERT_N}) g1(x), range({HILBERT_N}) g2(y)"
    )
    for s in _hilbert_scales():
        d_new, x_new, y_new = _hilbert_stage_exprs(s)
        inner = (
            f"SELECT ka, kb, {d_new} AS d, {x_new} AS x, {y_new} AS y"
            f" FROM ({inner})"
        )
    n_distinct, lo, hi = duckdb.connect().execute(
        f"SELECT count(DISTINCT d), min(d), max(d) FROM ({inner})"
    ).fetchall()[0]
    assert (n_distinct, lo, hi) == (HILBERT_N * HILBERT_N, 0, HILBERT_N * HILBERT_N - 1)

    rows = {r["layout"]: r for r in hilbert_curve_locality(spark, sf_dir).collect()}
    h, z = rows["hilbert"], rows["zorder"]
    assert h["n_buckets"] == z["n_buckets"]
    assert (
        h["avg_custkeys_milli"] + h["avg_days_milli"]
        < z["avg_custkeys_milli"] + z["avg_days_milli"]
    )


def test_kmins_exact_recompute(spark, sf_dir):
    import hashlib

    from rdbms_metadata_manager_spark.queries.modern import (
        KMINS_K,
        KMINS_M,
        kmins_distinct_audit,
    )

    con = _con(sf_dir)
    pairs = con.execute(
        "SELECT DISTINCT event_type, user_id FROM events"
    ).fetchall()
    con.close()
    per_type: dict[str, list[int]] = {}
    for et, uid in pairs:
        mins = per_type.setdefault(et, [KMINS_M] * (KMINS_K + 1))
        mins[KMINS_K] = 0  # slot reused as exact counter
    for et, uid in pairs:
        mins = per_type[et]
        mins[KMINS_K] += 1
        for i in range(KMINS_K):
            h = int(hashlib.md5(f"kmv{i}:{uid}".encode()).hexdigest()[:8], 16)
            if h < mins[i]:
                mins[i] = h
    got = {r["event_type"]: r for r in kmins_distinct_audit(spark, sf_dir).collect()}
    assert set(got) == set(per_type)
    for et, mins in per_type.items():
        exact = mins[KMINS_K]
        summins = sum(mins[:KMINS_K])
        est = (KMINS_K * KMINS_M) // summins - 1
        assert got[et]["exact_users"] == exact
        assert got[et]["kmins_est"] == est
        assert got[et]["err_pm"] == (1000 * (est - exact)) // exact
        # deterministic but unbiased-ish: the estimate should be in the
        # right ballpark (rsd ~ 1/sqrt(K) = 25%; allow 3x that)
        assert abs(got[et]["err_pm"]) < 750


# ---------------------------------------------------------------------------
# batch 3 — nDCG@10 and Burrows' Delta
# ---------------------------------------------------------------------------


def test_ndcg_consistent_with_retrieval_metrics(spark, sf_dir):
    """Same queries, same rank cut: the nDCG face's hits column must
    equal the metrics face's hits, and nDCG must respect its bounds —
    0 when hits = 0, 1 only when every top slot the ideal ranking
    could fill is filled from the top."""
    import math

    from rdbms_metadata_manager_spark.llm.ranking import (
        EVAL_K,
        ndcg_at_10_eval,
        retrieval_eval_metrics,
    )

    nd = {r["query_id"]: r for r in ndcg_at_10_eval(spark, sf_dir).collect()}
    mt = {r["query_id"]: r for r in retrieval_eval_metrics(spark, sf_dir).collect()}
    assert set(nd) == set(mt)
    for qid in nd:
        assert nd[qid]["hits"] == mt[qid]["hits"]
        assert nd[qid]["n_relevant"] == mt[qid]["n_relevant"]
        v = nd[qid]["ndcg_at_10"]
        if nd[qid]["n_relevant"] == 0:
            assert v is None
        else:
            assert 0.0 <= v <= 1.0 + 1e-12
            if nd[qid]["hits"] == 0:
                assert v == 0.0
    # exact recompute from the oracle's own ranked relevance sequence
    import duckdb

    from rdbms_metadata_manager_spark.llm.ranking import N_EVAL_QUERIES
    from rdbms_metadata_manager_spark.llm.similarity import _cosine_sql

    con = _con(sf_dir)
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    rows = con.execute(f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
      WHERE vec_id < {N_EVAL_QUERIES}),
corpus AS (SELECT * FROM e WHERE vec_id >= {N_EVAL_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id,
         CASE WHEN c.label = qlabel THEN 1 ELSE 0 END AS relevant,
         {_cosine_sql("c.v", "qv")} AS cosine
  FROM corpus c, q
)
SELECT query_id, relevant,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
FROM scored QUALIFY rk <= {EVAL_K}
""").fetchall()
    con.close()
    rels: dict[int, dict[int, int]] = {}
    for qid, rel, rk in rows:
        rels.setdefault(qid, {})[rk] = rel
    for qid, byrank in rels.items():
        dcg = sum(
            byrank.get(i, 0) / math.log2(i + 1) for i in range(1, EVAL_K + 1)
        )
        r_eff = min(nd[qid]["n_relevant"], EVAL_K)
        if r_eff == 0:
            continue
        idcg = sum(1.0 / math.log2(i + 1) for i in range(1, r_eff + 1))
        assert nd[qid]["ndcg_at_10"] == pytest.approx(dcg / idcg, rel=1e-12)


def test_global_agg_stats_on_empty_input(spark, tmp_path):
    """The fourteen 1-row global-aggregate reports must survive a
    zero-row corpus with their schema intact, zero counts, and NULL
    statistics — never a throw (the round-7 convention)."""
    d = str(tmp_path / "empty_sf")
    for t in ["orders", "documents", "events", "embeddings"]:
        (
            spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
            .limit(0)
            .write.parquet(f"{d}/{t}.parquet")
        )
    cases = {
        "friedman_daily_event_types": ("n_days", "chi2_pm"),
        "jonckheere_terpstra_priority": ("n_orders", "jt_z"),
        "cochran_armitage_trend": ("n_orders", "ca_z"),
        "durbin_watson_daily": ("n_days", "dw_stat"),
        "welch_t_ab": ("n_ctrl", "t_stat"),
        "mood_median_test": ("n_orders", "chi2_micro"),
        "hodges_lehmann_shift": ("n_pairs", "hl_shift_cents"),
        "granger_value_leads_volume": ("n_days_used", "f_granger"),
        "kpss_level_daily": ("n_days", "kpss_micro"),
        "seasonal_mann_kendall": ("n_days", "z_stat"),
        "ansari_bradley_dispersion": ("n_ctrl", "ab_z"),
        "partial_corr_volume_value": ("n_days", "partial_r_xy_given_day"),
        "brier_score_decomposition": ("n_docs", "brier_micro"),
        "average_precision_scorer": ("n_docs", "ap_micro"),
    }
    queries = all_queries()
    for name, (count_col, stat_col) in cases.items():
        rows = queries[name](spark, d).collect()
        assert len(rows) == 1, name
        assert (rows[0][count_col] or 0) == 0, name
        assert rows[0][stat_col] is None, name


def test_burrows_recompute_and_symmetry(spark, sf_dir):
    """Exact integer recompute (parts-per-million freqs, floored
    per-word terms) from raw word counts, plus the matrix facts: one
    row per unordered source pair, delta >= 0."""
    import math

    from rdbms_metadata_manager_spark.llm.text import (
        BURROWS_TOP_WORDS,
        burrows_delta_sources,
    )

    con = _con(sf_dir)
    swc = con.execute(
        "SELECT source, w, count(*) FROM (SELECT source,"
        " unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2"
    ).fetchall()
    con.close()
    from collections import Counter, defaultdict

    per_src: dict[str, Counter] = defaultdict(Counter)
    corpus = Counter()
    for s, w, c in swc:
        per_src[s][w] += c
        corpus[w] += c
    top = [w for w, _ in sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:BURROWS_TOP_WORDS]]
    sources = sorted(per_src)
    tot = {s: sum(per_src[s].values()) for s in sources}
    f = {
        (s, w): (1000000 * per_src[s][w]) // tot[s] for s in sources for w in top
    }
    S = len(sources)
    want = {}
    for i, sa in enumerate(sources):
        for sb in sources[i + 1:]:
            tsum = 0
            k = 0
            for w in top:
                sf = sum(f[(s, w)] for s in sources)
                sff = sum(f[(s, w)] ** 2 for s in sources)
                if S * sff - sf * sf <= 0:
                    continue
                k += 1
                tsum += math.floor(
                    1000000
                    * abs(f[(sa, w)] - f[(sb, w)])
                    * math.sqrt(S * (S - 1))
                    / math.sqrt(S * sff - sf * sf)
                )
            want[(sa, sb)] = (k, (tsum // 1000) // k)
    got = {
        (r["source_a"], r["source_b"]): (r["k_words"], r["delta_milli"])
        for r in burrows_delta_sources(spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) == S * (S - 1) // 2
    assert all(d >= 0 for _, d in got.values())
