"""Round-5 regressions: ADVICE r4 items each get a fixture that the
shipped testdata cannot exercise (NULL FK keys, PII-lookalike column
names, wide changepoint sums), plus independent-reference tests for
the round's new operators."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from conftest import assert_matches_oracle


def test_constraint_mining_fk_support_with_null_child_keys(spark, sf_dir, tmp_path):
    """ADVICE r4 #1: on a corpus where the child FK column carries
    NULLs, the Spark legs and the DuckDB oracle must still agree —
    the old .distinct() counted NULL as a distinct key in n_rows and
    the support denominator while count(DISTINCT) excluded it."""
    import duckdb

    from rdbms_metadata_manager_spark.queries.quality import (
        _constraint_oracle,
        constraint_mining,
    )

    d = tmp_path / "nullfk"
    d.mkdir()
    for t in ("customer", "lineitem", "nation"):
        shutil.copyfile(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    # orders with o_custkey NULLed on every 7th row
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (SELECT * REPLACE (
                CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END
                AS o_custkey)
              FROM '{sf_dir}/orders.parquet')
        TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    n_null = con.execute(
        f"SELECT count(*) FROM '{d}/orders.parquet' WHERE o_custkey IS NULL"
    ).fetchone()[0]
    con.close()
    assert n_null > 0, "fixture must actually contain NULL child keys"
    assert_matches_oracle(
        constraint_mining(spark, str(d)), _constraint_oracle(), str(d)
    )


def test_pii_quasi_regex_is_word_anchored_cross_engine(spark):
    """ADVICE r4 #2: lookalike column names (message, image_url,
    page_views, storage_tier, adobe_id, zipper_sku) must classify as
    non-PII while the real quasi-identifiers still hit — and Spark
    rlike must agree with DuckDB regexp_matches name by name."""
    import duckdb

    from rdbms_metadata_manager_spark.queries.metadata import PII_QUASI_RX

    cases = {
        # lookalikes that the unanchored 'age'/'dob'/'zip' substrings used to flag
        "message": False,
        "image_url": False,
        "page_views": False,
        "storage_tier": False,
        "adobe_id": False,
        "zipper_sku": False,
        # real quasi-identifiers
        "age": True,
        "age_band": True,
        "user_age": True,
        "dob": True,
        "dob_year": True,
        "zip": True,
        "zip_code": True,
        "birth_date": True,
        "postal_code": True,
        "gender": True,
        "user_id": True,
    }
    df = spark.createDataFrame([(n,) for n in cases], "name string").select(
        "name", F.lower(F.col("name")).rlike(PII_QUASI_RX).alias("hit")
    )
    got = {r.name: r.hit for r in df.collect()}
    assert got == cases, got
    con = duckdb.connect()
    for name, want in cases.items():
        (duck,) = con.execute(
            f"SELECT regexp_matches(lower('{name}'), '{PII_QUASI_RX}')"
        ).fetchone()
        assert duck == want, (name, duck, want)
    con.close()


def test_cusum_is_exact_at_int64_overflow_magnitudes(spark):
    """ADVICE r4 #4: with daily totals around 2.5e16, the CUSUM
    numerator n_total·S_d − n_left·S overflows int64 if the products
    are carried narrow. The widened DECIMAL(38,0) arithmetic must
    match exact Python bignum integer math day by day."""
    from rdbms_metadata_manager_spark.queries.forecast import (
        CHANGEPOINT_MIN_SEG,
        CHANGEPOINT_TOP,
        _cusum_report,
    )

    # Base level ~2.5e16 makes every n·S product wrap int64, while the
    # modest step (+1e6) keeps the SCORE itself inside the BIGINT
    # output contract — the regime ADVICE r4 #4 describes.
    xs = [25_000_000_000_000_000 + d * 13 for d in range(20)]
    xs += [25_000_000_000_001_000_000 // 1000 + d * 7 for d in range(20)]
    series = spark.createDataFrame(
        [(d, x) for d, x in enumerate(xs)], "day_idx long, x long"
    )
    got = [tuple(r) for r in _cusum_report(series).collect()]

    n_total, s_total = len(xs), sum(xs)
    rows = []
    s_left = 0
    for d, x in enumerate(xs):
        s_left += x
        n_left = d + 1
        if CHANGEPOINT_MIN_SEG <= n_left <= n_total - CHANGEPOINT_MIN_SEG:
            num = n_total * s_left - n_left * s_total
            score = (num * num) // (n_total * n_left * (n_total - n_left))
            rows.append((d, n_left, n_total - n_left, score))
    # the differences are small but the PRODUCTS they are built from
    # wrap int64 on later days — exactly the narrow-arithmetic trap
    assert n_total * s_total > 2**63, "fixture must exceed int64 in the products"
    want = sorted(rows, key=lambda r: (-r[3], r[0]))[:CHANGEPOINT_TOP]
    assert got == want
    assert got[0][0] == 19  # argmax at the planted step boundary


def test_ranged_prefix_matches_global_window(spark):
    """The two-pass range kernel must reproduce the single-partition
    global window EXACTLY — rank and running sums — on a value-heavy
    distribution with ties (the order is made total by the id
    tiebreak), across bucket counts including more buckets than
    rows."""
    from pyspark.sql import Window

    from rdbms_metadata_manager_spark.queries.prefix import ranged_prefix

    rows = [(i, (i * 7919) % 13, (i * 104729) % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, w long")
    order = [F.desc("v"), F.col("id")]
    wref = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: (r.rank, r.cum_v, r.cum_w)
        for r in df.select(
            "id",
            F.row_number().over(wref).alias("rank"),
            F.sum("v").over(wref).alias("cum_v"),
            F.sum("w").over(wref).alias("cum_w"),
        ).collect()
    }
    for buckets in (1, 4, 32, 1000):
        got = {
            r.id: (r.rank, r.cum_v, r.cum_w)
            for r in ranged_prefix(
                df, order, sum_cols=["v", "w"], rank_col="rank", buckets=buckets
            ).collect()
        }
        assert got == want, f"buckets={buckets}"


def test_code_prose_detector_discriminates_on_crafted_corpus(spark, tmp_path):
    """The shipped synthetic documents contain no symbols or digits
    (every row classifies 'prose' with 0 per-mille), so the
    discriminative path needs a crafted corpus: real code-looking
    docs must classify 'code', prose stays 'prose', and the Spark
    result must hash-match the DuckDB oracle on the same fixture."""
    import duckdb

    from rdbms_metadata_manager_spark.llm.text import (
        _CODE_PROSE_SQL,
        code_prose_detector,
    )

    docs = [
        (0, "def f(x): return [y * 2 for y in range(x)] # doubled", "en", "repoA"),
        (1, "if (a == b) { count += 1; } else { count -= offset; }", "en", "repoA"),
        (2, "SELECT col1, col2 FROM t WHERE id >= 100 AND flag = 1;", "en", "repoA"),
        (3, "the quiet afternoon passed slowly over the old harbor town", "en", "blogB"),
        (4, "she walked along the shore and watched the gulls wheel above", "en", "blogB"),
        (5, "order totals for 2024 were 1023 4456 8891 2234 9902 1755 3344", "en", "blogB"),
    ]
    d = tmp_path / "codecorpus"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?)", docs)
    con.execute(
        f"""COPY (SELECT doc_id, text, lang, source, length(text) AS n_chars
                  FROM docs) TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    got = {
        (r.source, r.verdict): r.n_docs
        for r in code_prose_detector(spark, str(d)).collect()
    }
    # repoA: all three symbol-heavy docs -> code; blogB: two prose +
    # the digit-heavy totals row -> code by the digit gate
    assert got == {
        ("repoA", "code"): 3,
        ("blogB", "prose"): 2,
        ("blogB", "code"): 1,
    }, got
    assert_matches_oracle(code_prose_detector(spark, str(d)), _CODE_PROSE_SQL, str(d))


def _h32_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_holt_matches_python_fold(spark, sf_dir):
    """Holt level/trend vs a from-scratch Python fold over the same
    per-type daily counts — exact float equality (both sides execute
    the identical IEEE halving sequence)."""
    import math
    from collections import defaultdict

    from rdbms_metadata_manager_spark.queries.base import DAY_SECONDS, load
    from rdbms_metadata_manager_spark.queries.forecast import holt_trend_daily_events

    rows = load(spark, sf_dir, "events").select("event_type", "ts").collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in rows:
        day = math.floor(r.ts.timestamp() / DAY_SECONDS)
        daily[r.event_type][day] += 1
    want = {}
    for et, days in daily.items():
        xs = [float(n) for _, n in sorted(days.items())]
        level, trend = xs[0], 0.0
        for x in xs[1:]:
            new_level = (x + level + trend) / 2
            trend = (trend + (new_level - level)) / 2
            level = new_level
        want[et] = (len(xs), level, trend, level + trend)
    got = {
        r.event_type: (r.n_days, r.level, r.trend, r.forecast_next)
        for r in holt_trend_daily_events(spark, sf_dir).collect()
    }
    assert got == want


def test_rag_chunks_match_python_chunker(spark, sf_dir):
    """Per-source chunk counts / word mass / distinct fingerprints vs
    a plain Python sliding-window chunker."""
    from collections import defaultdict

    from rdbms_metadata_manager_spark.llm.curation import (
        RAG_CHUNK_STRIDE as S,
        RAG_CHUNK_WORDS as W,
        rag_chunk_overlap_stats,
    )
    from rdbms_metadata_manager_spark.queries.base import load

    docs = load(spark, sf_dir, "documents").select("source", "text").collect()
    agg = defaultdict(lambda: [0, 0, 0, 0, set()])  # docs, chunks, words, cwords, fps
    for r in docs:
        words = r.text.split(" ")
        n = len(words)
        n_chunks = 1 + (max(0, n - W) + S - 1) // S
        a = agg[r.source]
        a[0] += 1
        a[1] += n_chunks
        a[2] += n
        for i in range(n_chunks):
            chunk = " ".join(words[i * S : i * S + W])
            a[3] += len(chunk.split(" "))
            a[4].add(_h32_py(chunk))
    want = {
        src: (a[0], a[1], len(a[4]), a[3], 1000 * (a[3] - a[2]) // a[3])
        for src, a in agg.items()
    }
    got = {
        r.source: (
            r.n_docs,
            r.n_chunks,
            r.n_distinct_chunks,
            r.n_chunk_words,
            r.overlap_permille,
        )
        for r in rag_chunk_overlap_stats(spark, sf_dir).collect()
    }
    assert got == want


def test_epoch_shuffle_matches_python_hashing(spark, sf_dir):
    """Shard assignment and moved counts vs direct md5 arithmetic;
    epoch 0 must report zero moved docs, later epochs must actually
    reshuffle (some moved docs)."""
    from collections import defaultdict

    from rdbms_metadata_manager_spark.llm.sampling import (
        SHUFFLE_EPOCHS,
        SHUFFLE_SHARDS,
        epoch_shuffle_shards,
    )
    from rdbms_metadata_manager_spark.queries.base import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    per = defaultdict(lambda: [0, 0, 0])  # docs, tokens, moved
    for r in docs:
        toks = len(r.text.split(" "))
        s0 = _h32_py(f"ep0:{r.doc_id}") % SHUFFLE_SHARDS
        for e in range(SHUFFLE_EPOCHS):
            sh = _h32_py(f"ep{e}:{r.doc_id}") % SHUFFLE_SHARDS
            a = per[(e, sh)]
            a[0] += 1
            a[1] += toks
            a[2] += int(sh != s0)
    got = {
        (r.epoch, r.shard): (r.n_docs, r.n_tokens, r.n_moved)
        for r in epoch_shuffle_shards(spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in per.items()}
    assert sum(v[2] for k, v in per.items() if k[0] == 0) == 0
    assert sum(v[2] for k, v in per.items() if k[0] == 1) > 0


def test_f2_estimate_upper_bounds_exact(spark, sf_dir):
    """Every CMS row's F2 estimate must be >= the exact self-join
    size (collisions only inflate), and the exact value must equal
    the Python sum of squared per-user counts."""
    from collections import Counter

    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.queries.skew import selfjoin_size_estimate

    users = [r.user_id for r in load(spark, sf_dir, "events").select("user_id").collect()]
    exact = sum(c * c for c in Counter(users).values())
    rows = selfjoin_size_estimate(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.exact_f2 == exact
        assert r.f2_estimate >= exact
        assert r.inflation_permille >= 0


def test_t_closeness_matches_python_tvd(spark, sf_dir):
    """t-closeness summary vs plain Python total-variation distances
    over the same (nation, balance-band) classes."""
    from collections import Counter, defaultdict

    from rdbms_metadata_manager_spark.llm.pii import (
        T_CLOSE_PERMILLE,
        t_closeness_audit,
    )
    from rdbms_metadata_manager_spark.queries.base import load

    rows = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    import math

    cells = defaultdict(Counter)
    glob = Counter()
    for r in rows:
        cls = (r.c_nationkey, math.floor(r.c_acctbal / 100))
        cells[cls][r.c_mktsegment] += 1
        glob[r.c_mktsegment] += 1
    n_total = sum(glob.values())
    tvds = {}
    for cls, seg_counts in cells.items():
        n_c = sum(seg_counts.values())
        l1 = sum(
            abs(seg_counts.get(s, 0) * n_total - g * n_c) for s, g in glob.items()
        )
        tvds[cls] = (1000 * l1) // (2 * n_c * n_total), n_c
    far = [(t, n) for t, n in tvds.values() if t > T_CLOSE_PERMILLE]
    want = (
        len(tvds),
        len(far),
        max(t for t, _ in tvds.values()),
        1000 * sum(n for _, n in far) // n_total,
    )
    (r,) = t_closeness_audit(spark, sf_dir).collect()
    assert (
        r.n_classes,
        r.n_far_classes,
        r.max_tvd_permille,
        r.far_records_permille,
    ) == want
    assert r.n_far_classes > 0, "audit must not be vacuous at test scale"


def test_diameter_double_sweep_matches_python_bfs(spark, sf_dir):
    """Both sweeps vs a plain Python BFS over the collected edge
    list — hub choice, farthest-node tiebreak, eccentricities, and
    reach count."""
    from collections import deque

    from rdbms_metadata_manager_spark.queries.mining import (
        DIAMETER_ROUNDS,
        _copurchase_edges,
        diameter_double_sweep,
    )

    edges = [(r.a, r.b) for r in _copurchase_edges(spark, sf_dir).collect()]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def bfs(src):
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] == DIAMETER_ROUNDS:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    hub = min(a for a, _ in edges)
    d1 = bfs(hub)
    ecc1 = max(d1.values())
    far = min(n for n, d in d1.items() if d == ecc1)
    d2 = bfs(far)
    (r,) = diameter_double_sweep(spark, sf_dir).collect()
    assert (r.hub_node, r.hub_ecc, r.far_node, r.diameter_lower_bound, r.n_reached_sweep2) == (
        hub,
        ecc1,
        far,
        max(d2.values()),
        len(d2),
    )


def test_keep_best_keeps_max_score_per_family(spark, sf_dir):
    """Keeper choice vs Python: in each family the keeper has the max
    score (ties -> lowest id), every non-keeper appears exactly once
    as a drop row, and the audit is non-vacuous."""
    from collections import defaultdict

    from rdbms_metadata_manager_spark.llm.clustering import (
        dedup_clusters,
        dedup_keep_best,
    )
    from rdbms_metadata_manager_spark.llm.curation import quality_classifier_scores

    cc = {r.doc_id: r.cluster_id for r in dedup_clusters(spark, sf_dir).collect()}
    sc = {
        r.doc_id: r.score
        for r in quality_classifier_scores(spark, sf_dir).collect()
    }
    fams = defaultdict(list)
    for doc, cl in cc.items():
        fams[cl].append(doc)
    want = {}
    for cl, docs in fams.items():
        keep = min(docs, key=lambda d: (-sc[d], d))
        for d in docs:
            if d != keep:
                want[d] = (cl, sc[d], keep, sc[keep])
    got = {
        r.drop_doc: (r.cluster_id, r.drop_score, r.keep_doc, r.keep_score)
        for r in dedup_keep_best(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "audit must be non-vacuous at test scale"
    # at least one family must keep a NON-minimum id (else the op is
    # indistinguishable from keep-first and the test proves nothing)
    assert any(k != min(fams[cl]) for d, (cl, _, k, _) in got.items())


def test_two_pass_median_matches_python_sort(spark, sf_dir):
    """The banded two-pass k-th selection vs a plain Python sort —
    including an even-N fixture pinning the lower-median convention."""
    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.queries.profiling import exact_median_two_pass

    ticks = sorted(
        int(__import__("math").floor(r.l_extendedprice * 100 + 0.5))
        for r in load(spark, sf_dir, "lineitem").select("l_extendedprice").collect()
    )
    k = (len(ticks) + 1) // 2
    (r,) = exact_median_two_pass(spark, sf_dir).collect()
    assert (r.n_rows, r.k, r.median_cents) == (len(ticks), k, ticks[k - 1])


def test_index_redundancy_detects_duplicates_and_shadows(spark):
    """The shipped fixtures are deliberately clean, so the detection
    path runs on a crafted catalog: an exact-duplicate pair, a
    unique-vs-non-unique shadow pair (counted in both), and a clean
    composite index that must NOT be flagged against its single-column
    sibling (different column sets)."""
    from rdbms_metadata_manager_spark.catalog.fixtures import _local_df
    from rdbms_metadata_manager_spark.catalog.schemas import INDEXES_META_SCHEMA
    from rdbms_metadata_manager_spark.queries.metadata import _index_redundancy

    rows = [
        ("db", "t1", "PRIMARY", "id", True),
        ("db", "t1", "ix_a", "email", False),
        ("db", "t1", "ix_b", "email", False),       # duplicate of ix_a
        ("db", "t1", "uq_email", "email", True),     # shadows ix_a and ix_b
        ("db", "t2", "ix_comp", "a", False),         # composite (a, b)
        ("db", "t2", "ix_comp", "b", False),
        ("db", "t2", "ix_a_only", "a", False),       # NOT the same set
    ]
    got = {
        r.table_name: (
            r.n_indexes,
            r.n_unique_indexes,
            r.n_duplicate_pairs,
            r.n_shadowed_pairs,
        )
        for r in _index_redundancy(_local_df(spark, rows, INDEXES_META_SCHEMA)).collect()
    }
    # t1 pairs on {email}: (ix_a,ix_b) dup, (ix_a,uq) dup+shadow,
    # (ix_b,uq) dup+shadow -> 3 duplicate pairs, 2 shadowed
    assert got == {"t1": (4, 2, 3, 2), "t2": (2, 0, 0, 0)}, got


def test_naming_audit_flags_fixture_pascal_case(spark, sf_dir):
    """The ecommerce fixture's PascalCase tables must all be flagged;
    snake_case tables pass; no reserved/too-long in the fixture."""
    from rdbms_metadata_manager_spark.queries.metadata import naming_convention_audit

    rows = naming_convention_audit(spark, sf_dir).collect()
    by_tbl = {}
    for r in rows:
        by_tbl.setdefault(r.table_name, set()).add(
            (r.table_snake_ok, r.verdict)
        )
    assert by_tbl["Users"] == {(False, "rename_recommended")}
    assert by_tbl["orders_teste"] == {(True, "ok")}
    assert not any(r.reserved_word or r.too_long for r in rows)


def test_attribution_conserves_revenue_and_matches_python(spark, sf_dir):
    """Total attributed cents (including '(none)') must equal total
    purchase cents exactly, and the per-channel rollup must match a
    plain Python attribution over collected events."""
    import math
    from collections import defaultdict

    from rdbms_metadata_manager_spark.queries.advanced import (
        ATTRIB_WINDOW_DAYS,
        multi_touch_attribution,
    )
    from rdbms_metadata_manager_spark.queries.base import load

    rows = load(spark, sf_dir, "events").collect()
    win = ATTRIB_WINDOW_DAYS * 86400 * 1_000_000
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    agg = defaultdict(lambda: [0, 0])
    total_purchase = 0
    for evs in by_user.values():
        purchases = [r for r in evs if r.event_type == "purchase"]
        touches = [r for r in evs if r.event_type != "purchase"]
        for p in purchases:
            cents = math.floor(p.value * 100 + 0.5)
            total_purchase += cents
            pus = int(p.ts.timestamp() * 1_000_000)
            cand = [
                t for t in touches
                if pus - win <= int(t.ts.timestamp() * 1_000_000) < pus
            ]
            if not cand:
                agg["(none)"][0] += 1
                agg["(none)"][1] += cents
                continue
            n = len(cand)
            latest = max(
                cand, key=lambda t: (int(t.ts.timestamp() * 1_000_000), t.event_id)
            )
            # TRUNCATING division, matching Spark div / DuckDB //
            # (Python // floors — diverges on negative refund values)
            q = abs(cents) // n if cents >= 0 else -(abs(cents) // n)
            for t in cand:
                share = q
                if t is latest:
                    share += cents - n * q
                agg[t.event_type][0] += 1
                agg[t.event_type][1] += share
    got = {
        r.channel: (r.n_touchpoints, r.attributed_cents)
        for r in multi_touch_attribution(spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    assert sum(v[1] for v in agg.values()) == total_purchase


def test_semdedup_block_kernel_tolerates_null_and_ragged_vectors(spark, sf_dir):
    """The Arrow prefilter must DROP null/short embedding vectors
    (the oracle's indexed cosine goes NULL for them) rather than
    crash in np.stack — the degenerate input the relational form it
    replaced tolerated silently."""
    import duckdb

    from rdbms_metadata_manager_spark.llm import semdedup as sd

    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE e(vec_id BIGINT, embedding FLOAT[], label INTEGER)
        """
    )
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)], i % 3))
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", rows)
    # one NULL vector and one ragged (8-dim) vector
    con.execute("INSERT INTO e VALUES (100, NULL, 0)")
    con.execute("INSERT INTO e VALUES (101, [0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5], 1)")
    import tempfile

    tmp = tempfile.mkdtemp()
    con.execute(f"COPY e TO '{tmp}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    # must not raise; the two degenerate vectors must never appear
    out = sd.semdedup_embedding_clusters(spark, tmp).collect()
    ids = {r.drop_vec for r in out} | {r.keep_vec for r in out}
    assert 100 not in ids and 101 not in ids


def test_grouped_trimmed_mean_matches_python_sort(spark, sf_dir):
    """Banded two-pass grouped trimmed mean vs a plain Python sort:
    cut points at ceil(q*n) (percentile_disc), inclusive window,
    truncating integer mean."""
    import math
    from collections import defaultdict

    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.queries.profiling import (
        TRIM_HI_PCT,
        TRIM_LO_PCT,
        grouped_trimmed_mean_two_pass,
    )

    rows = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    grps = defaultdict(list)
    for r in rows:
        grps[r.o_orderpriority].append(math.floor(r.o_totalprice * 100 + 0.5))
    want = {}
    for g, ticks in grps.items():
        ticks.sort()
        n = len(ticks)
        lo = ticks[-(-TRIM_LO_PCT * n // 100) - 1]
        hi = ticks[-(-TRIM_HI_PCT * n // 100) - 1]
        kept = [t for t in ticks if lo <= t <= hi]
        want[g] = (n, lo, hi, len(kept), sum(kept) // len(kept))
    got = {
        r.grp: (r.n_rows, r.lo_cents, r.hi_cents, r.n_kept, r.trimmed_mean_cents)
        for r in grouped_trimmed_mean_two_pass(spark, sf_dir).collect()
    }
    assert got == want


def test_bloom_fpr_matches_python_filter(spark, sf_dir):
    """Bloom build/probe vs direct md5 arithmetic in Python, and the
    occupancy expectation formula; the audit must be non-vacuous
    (some false positives at this m/k/n)."""
    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.queries.skew import (
        BLOOM_BITS,
        BLOOM_HASHES,
        BLOOM_PROBE_OFFSET,
        bloom_filter_fpr_audit,
    )

    keys = [r.c_custkey for r in load(spark, sf_dir, "customer").select("c_custkey").collect()]
    bloom = {
        _h32_py(f"bl{i}:{k}") % BLOOM_BITS for k in keys for i in range(BLOOM_HASHES)
    }
    n_fp = sum(
        all(
            _h32_py(f"bl{i}:{k + BLOOM_PROBE_OFFSET}") % BLOOM_BITS in bloom
            for i in range(BLOOM_HASHES)
        )
        for k in keys
    )
    (r,) = bloom_filter_fpr_audit(spark, sf_dir).collect()
    assert (r.n_keys, r.bits_set, r.n_false_positives) == (len(keys), len(bloom), n_fp)
    assert r.fp_permille == 1000 * n_fp // len(keys)
    assert r.expected_fp_permille == 1000 * len(bloom) ** 3 // BLOOM_BITS ** 3
    if len(keys) >= 1000:
        # occupancy-gated: at sf0.001 (150 keys, ~5% bits set) the
        # expected FPR is ~1e-4 and zero hits is the CORRECT outcome;
        # from sf0.01 up the filter saturates enough to measure
        assert r.n_false_positives > 0, "audit must be non-vacuous at this scale"
