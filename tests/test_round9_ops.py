"""Round-9 operators: independent pure-Python recomputes (brute
force, no SQL) and degenerate-input behaviour for the
distribution-shift battery (queries/distshift.py) and the
corpus-drift faces (llm/drift.py). Their oracle parity is
test_oracle_parity's."""

from __future__ import annotations

import math

import duckdb
import pytest


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("orders", "events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).fetchall()


def _orders_weekend_split(sf_dir):
    rows = _duck(
        sf_dir,
        "SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),"
        " epoch_us(o_orderdate) // 1000000 // 86400 FROM orders",
    )
    we = sorted(v for v, d in rows if (d + 3) % 7 >= 5)
    wd = sorted(v for v, d in rows if (d + 3) % 7 < 5)
    return we, wd


def test_cvm_recompute(spark, sf_dir):
    """Brute-force tie-adjusted CvM from the raw rows (pure Python
    integers) equals the SQL kernel."""
    from rdbms_metadata_manager_spark.queries.distshift import (
        cramer_von_mises_weekend,
    )

    we, wd = _orders_weekend_split(sf_dir)
    n, m = len(we), len(wd)
    from collections import Counter

    ca, cb = Counter(we), Counter(wd)
    support = sorted(set(we) | set(wd))
    A = B = 0
    t_num = 0
    for v in support:
        A += ca.get(v, 0)
        B += cb.get(v, 0)
        w = ca.get(v, 0) + cb.get(v, 0)
        t_num += w * (m * A - n * B) ** 2
    want = (1_000_000 * t_num) // (n * m * (n + m) ** 2)
    got = cramer_von_mises_weekend(spark, sf_dir).collect()[0]
    assert (got["n_weekend"], got["n_weekday"]) == (n, m)
    assert got["t_cvm_micro"] == want


def test_bhattacharyya_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.distshift import (
        BHATT_BAND_W,
        bhattacharyya_weekend_overlap,
    )

    we, wd = _orders_weekend_split(sf_dir)
    n, m = len(we), len(wd)
    from collections import Counter

    ca = Counter(v // BHATT_BAND_W for v in we)
    cb = Counter(v // BHATT_BAND_W for v in wd)
    bands = set(ca) | set(cb)
    bc = sum(
        math.floor(1_000_000.0 * math.sqrt((ca.get(b, 0) * cb.get(b, 0)) / (n * m)))
        for b in bands
    )
    got = bhattacharyya_weekend_overlap(spark, sf_dir).collect()[0]
    assert got["n_bands"] == len(bands)
    assert got["bc_micro"] == bc
    assert got["hellinger_sq_micro"] == 1_000_000 - bc
    assert 0 <= got["bc_micro"] <= 1_000_000


def test_ljung_box_recompute(spark, sf_dir):
    """Textbook float Ljung–Box over the daily counts agrees with the
    integer-sufficient-statistic kernel to float precision."""
    from rdbms_metadata_manager_spark.queries.distshift import (
        LB_LAGS,
        ljung_box_daily_events,
    )

    daily = _duck(
        sf_dir,
        "SELECT epoch_us(ts) // 1000000 // 86400 AS d, count(*) FROM events"
        " GROUP BY 1 ORDER BY 1",
    )
    x = [c for _, c in daily]
    n = len(x)
    mu = sum(x) / n
    c0 = sum((v - mu) ** 2 for v in x)
    rhos = [
        sum((x[t] - mu) * (x[t + k] - mu) for t in range(n - k)) / c0
        for k in range(1, LB_LAGS + 1)
    ]
    q = n * (n + 2) * sum(r * r / (n - k) for k, r in enumerate(rhos, 1))
    got = ljung_box_daily_events(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    for k in range(1, LB_LAGS + 1):
        assert got[f"rho_{k}"] == pytest.approx(rhos[k - 1], rel=1e-9)
    assert got["q_lb"] == pytest.approx(q, rel=1e-9)


def test_page_recompute(spark, sf_dir):
    """Pure-Python Page's L with doubled midranks over the completed
    weekly grid equals the kernel exactly."""
    from rdbms_metadata_manager_spark.queries.distshift import (
        page_trend_weekly_events,
    )

    cells = _duck(
        sf_dir,
        "SELECT epoch_us(ts) // 1000000 // 86400 // 7, event_type, count(*)"
        " FROM events GROUP BY 1, 2",
    )
    weeks = sorted({w for w, _, _ in cells})
    totals = {}
    for _, t, c in cells:
        totals[t] = totals.get(t, 0) + c
    order = sorted(totals, key=lambda t: (totals[t], t))
    m = {t: i + 1 for i, t in enumerate(order)}
    cnt = {(w, t): c for w, t, c in cells}
    l2 = 0
    for w in weeks:
        vals = [(cnt.get((w, t), 0), t) for t in m]
        for c, t in vals:
            below = sum(1 for c2, _ in vals if c2 < c)
            ties = sum(1 for c2, _ in vals if c2 == c)
            r2 = 2 * (below + 1) + ties - 1
            l2 += m[t] * r2
    n, k = len(weeks), len(m)
    got = page_trend_weekly_events(spark, sf_dir).collect()[0]
    assert (got["n_weeks"], got["k_types"]) == (n, k)
    assert got["l2_stat"] == l2
    assert got["e_l2_stat"] == n * k * (k + 1) ** 2 // 2
    var = n * k * k * (k + 1) * (k * k - 1) / 144.0
    assert got["z_stat"] == pytest.approx(
        (l2 - n * k * (k + 1) ** 2 / 2) / (2 * math.sqrt(var)), rel=1e-9
    )


def test_grubbs_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.queries.distshift import (
        grubbs_outlier_daily_revenue,
    )

    daily = _duck(
        sf_dir,
        "SELECT epoch_us(o_orderdate) // 1000000 // 86400 AS d,"
        " sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) FROM orders"
        " GROUP BY 1 ORDER BY 1",
    )
    n = len(daily)
    s = sum(y for _, y in daily)
    ss = sum(y * y for _, y in daily)
    best = max(daily, key=lambda dy: (abs(n * dy[1] - s), -dy[0]))
    dev = abs(n * best[1] - s)
    sd = math.sqrt((ss - s * s / n) / (n - 1))
    got = grubbs_outlier_daily_revenue(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    assert got["outlier_epoch_day"] == best[0]
    assert got["dev_scaled"] == dev
    assert got["g_stat"] == pytest.approx((dev / n) / sd, rel=1e-9)


def test_wasserstein_recompute(spark, sf_dir):
    """Per-source W1 against the corpus from a pure-Python CDF walk
    (exact integers) equals the kernel."""
    from rdbms_metadata_manager_spark.llm.drift import (
        wasserstein_source_length_drift,
    )

    rows = _duck(sf_dir, "SELECT source, CAST(n_chars AS BIGINT) FROM documents")
    from collections import Counter, defaultdict

    per_src = defaultdict(Counter)
    allc = Counter()
    for s, ln in rows:
        per_src[s][ln] += 1
        allc[ln] += 1
    support = sorted(allc)
    n_all = sum(allc.values())
    want = {}
    for s, cs in per_src.items():
        n_s = sum(cs.values())
        acc = 0
        cum_s = cum_all = 0
        for i, v in enumerate(support[:-1]):
            cum_s += cs.get(v, 0)
            cum_all += allc[v]
            acc += abs(cum_s * n_all - cum_all * n_s) * (support[i + 1] - v)
        want[s] = (1_000_000 * acc) // (n_s * n_all)
    got = {
        r["source"]: (r["n_docs"], r["w1_len_micro"])
        for r in wasserstein_source_length_drift(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s] == (sum(per_src[s].values()), want[s]), s


def test_rbo_recompute_and_bounds(spark, sf_dir):
    """Set-walk RBO from the two raw top-D lists equals the kernel;
    the cumulative curve is monotone and ≤ the perfect-agreement
    ceiling (1 − p^D)."""
    from rdbms_metadata_manager_spark.llm.drift import (
        RBO_DEPTH,
        RBO_P,
        rbo_scorer_rankings,
    )

    docs = _duck(
        sf_dir,
        "SELECT doc_id, length(text), len(string_split(text, ' ')) FROM documents",
    )
    ta = [d for d, *_ in sorted(docs, key=lambda r: (-r[1], r[0]))[:RBO_DEPTH]]
    tb = [d for d, *_ in sorted(docs, key=lambda r: (-r[2], r[0]))[:RBO_DEPTH]]
    got = rbo_scorer_rankings(spark, sf_dir).collect()
    assert [r["depth"] for r in got] == list(range(1, RBO_DEPTH + 1))
    acc = 0
    for r in got:
        d = r["depth"]
        x = len(set(ta[:d]) & set(tb[:d]))
        assert r["overlap"] == x
        term = math.floor(
            1_000_000.0 * ((1.0 - RBO_P) * RBO_P ** (d - 1)) * x / d
        )
        assert r["term_micro"] == term
        acc += term
        assert r["rbo_upto_micro"] == acc
    ceiling = 1_000_000 * (1 - RBO_P ** RBO_DEPTH)
    assert 0 <= got[-1]["rbo_upto_micro"] <= ceiling + 1


def test_vocab_gini_recompute(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.drift import vocab_gini_concentration

    toks = _duck(
        sf_dir,
        "SELECT t.tok, count(*) FROM documents,"
        " UNNEST(string_split(text, ' ')) AS t(tok)"
        " WHERE t.tok != '' GROUP BY 1",
    )
    fs = sorted((f, t) for t, f in toks)
    v = len(fs)
    tot = sum(f for f, _ in fs)
    sif = sum((i + 1) * f for i, (f, _) in enumerate(fs))
    got = vocab_gini_concentration(spark, sf_dir).collect()[0]
    assert (got["n_vocab"], got["n_tokens"]) == (v, tot)
    assert got["gini_micro"] == (1_000_000 * (2 * sif - (v + 1) * tot)) // (v * tot)
    assert got["top1_pm"] == (1000 * max(f for f, _ in fs)) // tot
    assert 0 <= got["gini_micro"] < 1_000_000


# ---------------------------------------------------------------------------
# degenerate inputs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_sf_r9"))
    for t in ["orders", "documents", "events"]:
        (
            spark.read.parquet(f"{sf_dir}/{t}.parquet")
            .limit(0)
            .write.parquet(f"{d}/{t}.parquet")
        )
    return d


def test_round9_empty_inputs(spark, empty_dir):
    """Global-aggregate reports degrade to one NULL-guarded row;
    per-entity reports contract to zero rows; the RBO depth spine
    stays fixed (a report a curator reads must never silently
    vanish)."""
    from rdbms_metadata_manager_spark.llm.drift import (
        RBO_DEPTH,
        rbo_scorer_rankings,
        vocab_gini_concentration,
        wasserstein_source_length_drift,
    )
    from rdbms_metadata_manager_spark.queries.distshift import (
        bhattacharyya_weekend_overlap,
        cramer_von_mises_weekend,
        grubbs_outlier_daily_revenue,
        ljung_box_daily_events,
        page_trend_weekly_events,
    )

    (r,) = cramer_von_mises_weekend(spark, empty_dir).collect()
    assert r["t_cvm_micro"] is None

    (r,) = bhattacharyya_weekend_overlap(spark, empty_dir).collect()
    assert r["n_bands"] == 0 and r["bc_micro"] is None

    (r,) = ljung_box_daily_events(spark, empty_dir).collect()
    assert r["n_days"] == 0 and r["q_lb"] is None and r["rho_1"] is None

    (r,) = page_trend_weekly_events(spark, empty_dir).collect()
    assert r["z_stat"] is None

    assert grubbs_outlier_daily_revenue(spark, empty_dir).count() == 0
    assert wasserstein_source_length_drift(spark, empty_dir).count() == 0

    rows = rbo_scorer_rankings(spark, empty_dir).collect()
    assert [r["depth"] for r in rows] == list(range(1, RBO_DEPTH + 1))
    assert all(r["overlap"] == 0 and r["rbo_upto_micro"] == 0 for r in rows)

    (r,) = vocab_gini_concentration(spark, empty_dir).collect()
    assert r["n_vocab"] == 0 and r["gini_micro"] is None
