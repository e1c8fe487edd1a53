"""Cross-operator semantic invariants for the LLM surface — the
relationships BETWEEN operators that single-query oracles can't see."""

from __future__ import annotations

import collections

import pytest

from rdbms_metadata_manager_spark.llm.dedup import (
    JACCARD_THRESHOLD,
    SIMHASH_MAX_HAMMING,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from rdbms_metadata_manager_spark.llm.similarity import (
    similarity_ann_lsh,
    similarity_topk_bruteforce,
)
from rdbms_metadata_manager_spark.llm.text import text_token_stats
from rdbms_metadata_manager_spark.llm.udfs import udtf_document_chunks


def test_minhash_candidates_subset_of_exact_with_full_recall_on_planted(spark, sf_dir):
    """LSH precision is exact (post-verification) and recall on the
    near-identical planted dups (J≈0.9+) is 1.0."""
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    assert lsh <= set(exact)
    planted = {p for p, j in exact.items() if j >= 0.9}
    assert planted <= lsh


def test_jaccard_values_bounded(spark, sf_dir):
    for r in dedup_ngram_jaccard(spark, sf_dir).collect():
        assert JACCARD_THRESHOLD <= r.jaccard <= 1.0
        assert r.doc_a < r.doc_b


def test_jaccard_posting_lists_capped(spark, sf_dir):
    """The inverted-index self-join must never see a posting list
    longer than MAX_SHINGLE_DF — the Σ df² scale guard."""
    import pyspark.sql.functions as F

    from rdbms_metadata_manager_spark.llm.dedup import MAX_SHINGLE_DF, _shingled

    ex = _shingled(spark, sf_dir).select(F.explode("hashes").alias("shingle"))
    df_counts = ex.groupBy("shingle").count()
    # raw corpus may exceed the cap; the joined side must not
    rare = df_counts.filter(F.col("count") <= MAX_SHINGLE_DF)
    mx = rare.agg(F.max("count").alias("mx")).collect()[0].mx
    assert mx is not None and mx <= MAX_SHINGLE_DF


def test_simhash_hamming_bounded_and_symmetric_free(spark, sf_dir):
    for r in dedup_simhash(spark, sf_dir).collect():
        assert 0 <= r.hamming <= SIMHASH_MAX_HAMMING
        assert r.doc_a < r.doc_b  # each pair reported once


def test_ann_results_subset_of_bruteforce_universe(spark, sf_dir):
    """ANN cosines must agree with brute force for any shared vec."""
    bf = {r.vec_id: r.cosine for r in similarity_topk_bruteforce(spark, sf_dir).collect()}
    for r in similarity_ann_lsh(spark, sf_dir).collect():
        if r.vec_id in bf:
            assert r.cosine == pytest.approx(bf[r.vec_id], abs=1e-12)


def test_chunk_token_conservation(spark, sf_dir):
    """Chunker must neither drop nor duplicate tokens at window
    boundaries: per-doc chunk token counts sum to the doc's count."""
    per_doc = collections.Counter()
    for r in udtf_document_chunks(spark, sf_dir).collect():
        per_doc[r.doc_id] += r.n_tokens
    expected = {
        r.doc_id: r.n_tokens
        for r in text_token_stats(spark, sf_dir).collect()
        if r.doc_id < 100
    }
    assert dict(per_doc) == expected


def test_winnowing_guarantee_shared_substring_shares_fingerprint(spark, tmp_path):
    """The MOSS guarantee: any two documents sharing a substring of
    length >= K + W - 1 share at least one winnow fingerprint."""
    import pandas as pd

    from rdbms_metadata_manager_spark.llm.fingerprint import (
        K,
        W,
        _fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog"  # len 43 >= K+W-1
    assert len(shared) >= K + W - 1
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "prefix one alpha beta " + shared + " gamma delta",
                "совершенно other начало " + shared + " another ending here",
                "no overlap with anything else at all in this row",
            ],
        }
    )
    df = spark.createDataFrame(docs)
    fps = {r.doc_id: set(r.fps) for r in _fingerprints(df).collect()}
    assert fps[0] & fps[1], "docs sharing a long substring must share a fingerprint"
    assert fps[2], "control doc still yields fingerprints"


def test_winnow_fingerprints_subset_of_gram_hashes(spark, sf_dir):
    """Every selected fingerprint is one of the document's k-gram
    rolling hashes (winnowing selects, never invents)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from rdbms_metadata_manager_spark.llm.fingerprint import B, K, M, _fingerprints
    from rdbms_metadata_manager_spark.queries.base import load

    docs = load(spark, sf_dir, "documents").limit(20)
    rows = {r.doc_id: r.text for r in docs.collect()}
    for r in _fingerprints(docs).collect():
        codes = np.fromiter((ord(c) for c in rows[r.doc_id].lower()), dtype=np.int64)
        grams = sliding_window_view(codes, K)
        h = np.zeros(grams.shape[0], dtype=np.int64)
        for j in range(K):
            h = (h * B + grams[:, j]) % M
        assert set(r.fps) <= set(h.tolist())


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _winnow_reference(text: str) -> set[int]:
    """Pure-Python winnowing reference (independent of numpy/Spark)."""
    from rdbms_metadata_manager_spark.llm.fingerprint import B, K, M, W

    codes = [ord(c) for c in text.lower()]
    if len(codes) < K:
        return set()
    hs = []
    for p in range(len(codes) - K + 1):
        h = 0
        for c in codes[p : p + K]:
            h = (h * B + c) % M
        hs.append(h)
    if len(hs) < W:
        return set()
    return {min(hs[i : i + W]) for i in range(len(hs) - W + 1)}


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_winnow_kernel_matches_pure_python_reference(spark, texts):
    import pandas as pd

    from rdbms_metadata_manager_spark.llm.fingerprint import _winnow_kernel

    got = _winnow_kernel(pd.Series(texts))
    for t, fps in zip(texts, got):
        assert set(fps) == _winnow_reference(t), repr(t)


def test_shingle_operators_survive_short_documents(spark, tmp_path_factory):
    """1- and 2-word documents must flow through every shingle-based
    operator without crashing AND still match the oracle: an
    unguarded sequence(0, size-n) steps DOWNWARD for short docs,
    fabricating a bogus index and then throwing in slice(words, 0, n)
    — while the DuckDB side's empty range() sails on (review finding,
    round 3). The guard lives in hashing.word_shingles."""
    import duckdb

    from rdbms_metadata_manager_spark.llm.dedup import _JACCARD_SQL, dedup_ngram_jaccard
    from rdbms_metadata_manager_spark.llm.hygiene import (
        _REPETITION_SQL,
        text_repetition_stats,
    )

    d = str(tmp_path_factory.mktemp("short_docs"))
    rows = [
        (0, "word", "en", "src0", 4),
        (1, "two words", "en", "src0", 9),
        (2, "a b c d e f g h i j", "en", "src1", 19),
        (3, "a b c d e f g h i j", "en", "src1", 19),
        (4, "", "en", "src2", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    for fn, sql in [
        (dedup_ngram_jaccard, _JACCARD_SQL),
        (text_repetition_stats, _REPETITION_SQL),
    ]:
        got = sorted(tuple(r) for r in fn(spark, d).collect())
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want, fn.__name__
    # the identical 10-word pair must still be found
    pairs = dedup_ngram_jaccard(spark, d).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(2, 3)]


def test_polymorphic_udtf_schema_follows_metrics_argument(spark, sf_dir):
    """The analyze() hook must derive the output schema from the
    constant argument: different metric lists → different columns,
    and an unknown metric fails at PLAN time, not at execution."""
    import pytest
    from pyspark.sql.functions import udtf as udtf_fn

    from rdbms_metadata_manager_spark.llm.udfs import PolymorphicDocStats
    from rdbms_metadata_manager_spark.queries.base import load_spread

    spark.udtf.register("doc_stats_poly", udtf_fn(PolymorphicDocStats))
    load_spread(spark, sf_dir, "documents", "doc_id").filter(
        "doc_id < 5"
    ).createOrReplaceTempView("poly_docs")

    one = spark.sql(
        "SELECT s.* FROM poly_docs d, LATERAL doc_stats_poly(d.text, 'n_digits') s"
    )
    assert one.columns == ["n_digits"]
    three = spark.sql(
        "SELECT s.* FROM poly_docs d, "
        "LATERAL doc_stats_poly(d.text, 'n_words,n_upper,n_digits') s"
    )
    assert three.columns == ["n_words", "n_upper", "n_digits"]
    assert three.count() == 5
    with pytest.raises(Exception, match="unknown metric"):
        spark.sql(
            "SELECT s.* FROM poly_docs d, LATERAL doc_stats_poly(d.text, 'bogus') s"
        ).collect()
    # a NON-constant metrics argument must fail with intent, not an
    # AttributeError inside analyze()
    with pytest.raises(Exception, match="constant string"):
        spark.sql(
            "SELECT s.* FROM poly_docs d, LATERAL doc_stats_poly(d.text, d.text) s"
        ).collect()
    # ASCII-only word splitting: unicode whitespace (NBSP, U+2003)
    # must NOT split words, exactly like the oracle's [ \t\n\r\f\v]
    spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    ).createOrReplaceTempView("poly_docs_uni")
    uni = spark.sql(
        "SELECT s.* FROM poly_docs_uni d, LATERAL doc_stats_poly(d.text, 'n_words') s"
    ).collect()
    assert uni[0].n_words == 3


def test_bpe_pair_counts_on_crafted_corpus(spark, tmp_path):
    """Hand-computable merge statistics: 'low lower' ×2 docs + 'we'.
    Pair counts on the dictionary weighted by word frequency:
    lo=4 (low×2 + lower×2), ow=4, we=3 (wer×2 + we word), er=2."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "low lower", "en", "a", 9), (2, "low lower", "en", "a", 9), (3, "we", "en", "a", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    from rdbms_metadata_manager_spark.llm.bpe import bpe_pair_merge_counts

    got = {r.pair: r.pair_count for r in bpe_pair_merge_counts(spark, d).collect()}
    assert got == {"lo": 4, "ow": 4, "we": 3, "er": 2}


def test_bpe_train_merges_matches_sequential_reference(spark, tmp_path):
    """The distributed merge loop must reproduce a direct sequential
    BPE (Sennrich '16) over the same dictionary: argmax by (count
    DESC, sym_a, sym_b), greedy left-to-right non-overlapping
    re-segmentation, repeat. Corpus includes a word with overlapping
    repeats ('aaaa') to pin the non-overlap greedy semantics."""
    texts = ["low lower lowest", "low lower we", "aaaa aaaa we wider", "aaaa low"]
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "a", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    from rdbms_metadata_manager_spark.llm.bpe import N_TRAIN_MERGES, bpe_train_merges

    def sequential_bpe(words: list[str], rounds: int):
        from collections import Counter

        wc = Counter(words)
        dic = {w: [list(w), n] for w, n in wc.items()}
        out = []
        for r in range(1, rounds + 1):
            pc = Counter()
            for arr, n in dic.values():
                for i in range(len(arr) - 1):
                    pc[(arr[i], arr[i + 1])] += n
            if not pc:
                break
            (s1, s2), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((r, s1, s2, s1 + s2, cnt))
            for w, (arr, n) in dic.items():
                new, i = [], 0
                while i < len(arr):
                    if i + 1 < len(arr) and arr[i] == s1 and arr[i + 1] == s2:
                        new.append(s1 + s2)
                        i += 2
                    else:
                        new.append(arr[i])
                        i += 1
                dic[w][0] = new
        return out

    words = [w for t in texts for w in t.split(" ") if w]
    expected = sequential_bpe(words, N_TRAIN_MERGES)
    got = [
        (r.merge_rank, r.sym_a, r.sym_b, r.merged, r.pair_count)
        for r in bpe_train_merges(spark, d).collect()
    ]
    assert got == expected, (got, expected)


def test_gram_matrix_matches_numpy_direct(spark, sf_dir):
    """The mapInPandas partial-sum fold must equal a single-process
    numpy X^T X on the same fixed-point ticks — proves the partial
    aggregation is exact regardless of batch/partition splits."""
    import numpy as np

    from rdbms_metadata_manager_spark.llm.gram import TICK, embedding_gram_matrix
    from rdbms_metadata_manager_spark.llm.similarity import DIM

    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding")
        .collect()
    )
    x = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in vecs])
    t = np.floor(x * TICK).astype(np.int64)
    g = t.T @ t
    rows = embedding_gram_matrix(spark, sf_dir).collect()
    assert len(rows) == DIM * (DIM + 1) // 2
    for r in rows:
        assert g[r.dim_i, r.dim_j] == r.gram_ticks, (r.dim_i, r.dim_j)


def test_hard_negatives_exclude_anchor_label(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.similarity import (
        HARDNEG_CEIL,
        HARDNEG_K,
        N_HARDNEG_QUERIES,
        hard_negative_mining,
    )

    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(f"vec_id < {N_HARDNEG_QUERIES}")
        .collect()
    }
    rows = hard_negative_mining(spark, sf_dir).collect()
    assert rows, "expected non-empty negatives on testdata"
    per_anchor = {}
    for r in rows:
        assert r.label != labels[r.anchor_id]
        assert r.cosine <= HARDNEG_CEIL
        per_anchor.setdefault(r.anchor_id, []).append(r.rk)
    for rks in per_anchor.values():
        assert rks == list(range(1, len(rks) + 1)) and len(rks) <= HARDNEG_K


def test_longest_shared_run_exact_lengths(spark, tmp_path):
    """Crafted corpus with known runs: a 20-token verbatim insert is
    reported as exactly 20; a 10-token overlap stays below the
    16-token floor; a doc containing the insert TWICE yields two
    islands (n_runs=2) with the same max."""
    d = str(tmp_path)
    ins = " ".join(f"u{i}" for i in range(20))
    short = " ".join(f"s{i}" for i in range(10))
    mk = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (1, f"{mk('a', 10)} {ins} {mk('b', 10)} {short} {mk('c', 6)}", "en", "w", 0),
        (2, f"{mk('d', 3)} {ins} {mk('e', 14)}", "en", "w", 0),
        (3, f"{mk('f', 12)} {short} {mk('g', 12)}", "en", "w", 0),
        (4, f"{mk('h', 5)} {ins} {mk('i', 7)} {ins} {mk('j', 4)}", "en", "w", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    from rdbms_metadata_manager_spark.llm.shared_runs import dedup_longest_shared_run

    got = {
        (r.doc_a, r.doc_b): (r.longest_run_tokens, r.n_runs)
        for r in dedup_longest_shared_run(spark, d).collect()
    }
    assert got[(1, 2)] == (20, 1)
    assert got[(1, 4)] == (20, 2)
    assert got[(2, 4)] == (20, 2)
    assert (1, 3) not in got  # 10-token overlap < 16-token floor
    assert (2, 3) not in got and (3, 4) not in got


def _shared_runs_reference(texts: dict[int, str]) -> dict[tuple[int, int], tuple[int, int]]:
    """Pure-Python reference for dedup_longest_shared_run: for each
    doc pair and each diagonal, maximal runs of token equality; a run
    of length >= RUN_W is one island with run_tokens = its length.
    Valid only when the stop-window cap never binds (asserted by the
    caller via a large alphabet)."""
    from rdbms_metadata_manager_spark.llm.shared_runs import MIN_RUN_TOKENS, RUN_W

    toks = {k: v.split(" ") for k, v in texts.items()}
    out = {}
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = toks[ids[ai]], toks[ids[bi]]
            runs = []
            for diag in range(-(len(b) - 1), len(a)):
                i, j = max(diag, 0), max(-diag, 0)
                cur = 0
                while i < len(a) and j < len(b):
                    if a[i] == b[j]:
                        cur += 1
                    else:
                        if cur >= RUN_W:
                            runs.append(cur)
                        cur = 0
                    i += 1
                    j += 1
                if cur >= RUN_W:
                    runs.append(cur)
            if runs and max(runs) >= MIN_RUN_TOKENS:
                out[(ids[ai], ids[bi])] = (max(runs), len(runs))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from([f"t{i}" for i in range(12)]), min_size=1, max_size=50),
        min_size=2,
        max_size=5,
    ),
    st.data(),
)
def test_shared_runs_match_quadratic_reference(spark, tmp_path_factory, docs, data):
    """Random corpora, with a shared snippet planted into two random
    docs so long runs actually occur, checked against the quadratic
    token-DP reference."""
    from rdbms_metadata_manager_spark.llm.shared_runs import (
        RUN_CAP,
        dedup_longest_shared_run,
    )

    snippet = [f"s{i}" for i in range(data.draw(st.integers(0, 24)))]
    if snippet and len(docs) >= 2:
        i, j = data.draw(
            st.tuples(st.integers(0, len(docs) - 1), st.integers(0, len(docs) - 1))
        )
        if i != j:
            docs[i] = docs[i] + snippet
            docs[j] = snippet + docs[j]
    texts = {k: " ".join(words) for k, words in enumerate(docs)}
    # reference is cap-free: ensure the cap can't bind (windows per
    # corpus <= 5 docs * 50 tokens < RUN_CAP only if repeats are rare;
    # check directly and discard rare cap-binding draws)
    from collections import Counter

    from rdbms_metadata_manager_spark.llm.shared_runs import RUN_W

    wcount = Counter()
    for t in texts.values():
        w = t.split(" ")
        for p in range(len(w) - RUN_W + 1):
            wcount[" ".join(w[p : p + RUN_W])] += 1
    from hypothesis import assume

    assume(not wcount or max(wcount.values()) <= RUN_CAP)

    d = str(tmp_path_factory.mktemp("runs_prop"))
    spark.createDataFrame(
        [(k, t, "en", "w", 0) for k, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): (r.longest_run_tokens, r.n_runs)
        for r in dedup_longest_shared_run(spark, d).collect()
    }
    assert got == _shared_runs_reference(texts)


def test_random_projection_separates_distance_scales(spark, tmp_path):
    """JL preserves RELATIVE scale: a 25x larger true offset must come
    out ~625x larger in projected squared distance (linearity of the
    projection — exact up to tick flooring). The real-corpus pairs
    are nearly equidistant (d2 in [1.5, 2.4]), so a correlation test
    there only measures the expected 1/sqrt(16) JL noise; scale
    separation is the property downstream clustering needs."""
    import numpy as np

    from rdbms_metadata_manager_spark.llm.projection import (
        N_PROJ,
        embedding_random_projection,
    )

    base = [0.1] * 64
    rows = [
        (0, [float(v) for v in base], 0),
        (1, [float(v + 0.02) for v in base], 0),
        (2, [float(v + 0.5) for v in base], 0),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    proj = {}
    for r in embedding_random_projection(spark, d).collect():
        proj.setdefault(r.vec_id, [0] * N_PROJ)[r.plane] = r.proj_ticks
    p = {k: np.array(v, dtype=np.float64) for k, v in proj.items()}
    d_small = float(np.sum((p[0] - p[1]) ** 2))
    d_large = float(np.sum((p[0] - p[2]) ** 2))
    assert d_small > 0 and d_large / d_small > 100


def test_ann_recall_report_invariants(spark, sf_dir):
    """Every query appears once; hits <= min(K, n_candidates); recall
    is the flooring of hits/K in per-mille; perfect recall requires
    at least K bucket candidates."""
    from rdbms_metadata_manager_spark.llm.similarity import (
        N_RECALL_QUERIES,
        RECALL_K,
        ann_recall_report,
    )

    rows = ann_recall_report(spark, sf_dir).collect()
    assert len(rows) == N_RECALL_QUERIES
    assert {r.query_id for r in rows} == set(range(N_RECALL_QUERIES))
    for r in rows:
        assert 0 <= r.hits <= min(RECALL_K, r.n_candidates)
        assert r.recall_permille == (1000 * r.hits) // RECALL_K
        if r.recall_permille == 1000:
            assert r.n_candidates >= RECALL_K


def test_label_centroid_separation_known_geometry(spark, tmp_path):
    """Axis-aligned classes: labels 0 and 2 share the e1 direction
    (centroid cosine 1), label 1 sits on e2 (orthogonal, cosine 0);
    counts cancel so duplicate members must not change the cosine."""
    from rdbms_metadata_manager_spark.llm.similarity import label_centroid_separation

    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    rows = [
        (0, e1, 0),
        (1, e1, 0),  # duplicate member: centroid direction unchanged
        (2, e2, 1),
        (3, e1, 2),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    got = {(r.label_a, r.label_b): r for r in label_centroid_separation(spark, d).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 1)].centroid_cosine == 0.0 and got[(1, 2)].centroid_cosine == 0.0
    assert got[(0, 2)].centroid_cosine == 1.0
    assert got[(0, 1)].n_a == 2 and got[(0, 1)].n_b == 1


def test_label_centroid_separation_testdata_bounds(spark, sf_dir):
    """All C(L,2) pairs present exactly once, cosine within [-1, 1]."""
    from rdbms_metadata_manager_spark.llm.similarity import label_centroid_separation

    rows = label_centroid_separation(spark, sf_dir).collect()
    labels = {r.label_a for r in rows} | {r.label_b for r in rows}
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2
    for r in rows:
        assert r.label_a < r.label_b
        assert -1.0 <= r.centroid_cosine <= 1.0


def _chunk_rewrite_reference(texts: dict[int, str], chunk_words: int) -> dict[int, tuple]:
    """Keep-first passage dedup in plain Python."""
    seen: set[str] = set()
    out: dict[int, tuple] = {}
    for doc_id in sorted(texts):
        words = texts[doc_id].split(" ")
        n_chunks = (len(words) + chunk_words - 1) // chunk_words
        kept = []
        removed = 0
        for i in range(n_chunks):
            chunk = " ".join(words[i * chunk_words : (i + 1) * chunk_words])
            if chunk in seen:
                removed += 1
            else:
                seen.add(chunk)
                kept.append(chunk)
        out[doc_id] = (n_chunks, removed, " ".join(kept))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from([f"t{i}" for i in range(6)]), min_size=1, max_size=40),
        min_size=1,
        max_size=6,
    ),
    st.data(),
)
def test_chunk_rewrite_matches_python_reference(spark, tmp_path_factory, docs, data):
    """Random tiny-vocab corpora (so chunk collisions actually occur),
    optionally with one doc duplicated verbatim, checked against the
    sequential keep-first Python reference — pins the corpus-wide
    first-occurrence order (doc_id, ord) and the reconstruction."""
    from rdbms_metadata_manager_spark.llm.curation import CHUNK_WORDS, chunk_dedup_rewrite

    if data.draw(st.booleans()):
        docs.append(docs[data.draw(st.integers(0, len(docs) - 1))])
    texts = {k: " ".join(words) for k, words in enumerate(docs)}
    d = str(tmp_path_factory.mktemp("chunk_rw_prop"))
    spark.createDataFrame(
        [(k, t, "en", "w", 0) for k, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: (r.n_chunks, r.removed_chunks, r.clean_text)
        for r in chunk_dedup_rewrite(spark, d).collect()
    }
    assert got == _chunk_rewrite_reference(texts, CHUNK_WORDS)


def test_bpe_faces_match_oracle_when_merges_exhaust_early(spark, tmp_path):
    """Corpus whose merges exhaust before N_TRAIN_MERGES rounds
    ('ab ab ab' is fully merged after round 1): the train face must
    emit only the realized merges and the vocab face the final
    dictionary — and BOTH oracles must agree (regression: an empty
    m{r} made the oracle's replace() scalar subqueries NULL, nulling
    every arr in d{r}..dN and emptying the vocab oracle)."""
    from conftest import assert_matches_oracle

    from rdbms_metadata_manager_spark.llm.bpe import (
        _BPE_TRAIN_SQL,
        _bpe_vocab_sql,
        bpe_train_merges,
        bpe_vocab_after_merges,
    )

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    pdf = pd.DataFrame(
        {"doc_id": [1], "text": ["ab ab ab"], "lang": ["en"], "source": ["a"], "n_chars": [8]}
    )
    pq.write_table(pa.Table.from_pandas(pdf), f"{d}/documents.parquet")

    merges = bpe_train_merges(spark, d).collect()
    assert [(r.merge_rank, r.merged, r.pair_count) for r in merges] == [(1, "ab", 3)]
    vocab = bpe_vocab_after_merges(spark, d).collect()
    assert [(r.symbol, r.sym_len, r.occurrences) for r in vocab] == [("ab", 2, 3)]
    assert_matches_oracle(bpe_train_merges(spark, d), _BPE_TRAIN_SQL, d)
    assert_matches_oracle(bpe_vocab_after_merges(spark, d), _bpe_vocab_sql(), d)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # heavy value ties
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=0,
        max_size=60,
    ),
    st.sampled_from([1, 2, 7, 64]),
)
def test_ranged_prefix_property_matches_global_window(spark, rows, buckets):
    """ranged_prefix == single-partition global window on arbitrary
    integer data with heavy ties (order totalized by the unique id),
    for any bucket count — including empty input and buckets > rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rdbms_metadata_manager_spark.queries.prefix import ranged_prefix

    data = [(i, v, w) for i, (v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, v long, w long") if data else (
        spark.createDataFrame([], "id long, v long, w long")
    )
    order = [F.desc("v"), F.col("id")]
    wref = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: (r.rank, r.cum_w)
        for r in df.select(
            "id",
            F.row_number().over(wref).alias("rank"),
            F.sum("w").over(wref).alias("cum_w"),
        ).collect()
    }
    got = {
        r.id: (r.rank, r.cum_w)
        for r in ranged_prefix(
            df, order, sum_cols=["w"], rank_col="rank", buckets=buckets
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=0, max_size=80, unique=True))
def test_control_pairing_invariants(spark, ids):
    """Bucketed md5 control pairing: no row pairs with itself, every
    row appears in AT MOST one pair, pairs never cross salt buckets,
    and the pair count is Σ_buckets ⌊bucket_size/2⌋."""
    import hashlib
    from collections import Counter

    from rdbms_metadata_manager_spark.llm.hashing import (
        CONTROL_PAIR_BUCKETS,
        md5_control_pairs,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long") if ids else (
        spark.createDataFrame([], "doc_id long")
    )
    pairs = [
        (r.a_doc_id, r.b_doc_id)
        for r in md5_control_pairs(df, "doc_id").collect()
    ]

    def bkt(i):
        return int(hashlib.md5(f"ctl:{i}".encode()).hexdigest()[:8], 16) % CONTROL_PAIR_BUCKETS

    seen = [x for p in pairs for x in p]
    assert len(seen) == len(set(seen))  # each row in <=1 pair
    for a, b in pairs:
        assert a != b
        assert bkt(a) == bkt(b)  # never cross-bucket
    sizes = Counter(bkt(i) for i in ids)
    assert len(pairs) == sum(n // 2 for n in sizes.values())


def test_control_pairing_drops_null_ids_like_the_oracle(spark):
    """A NULL id has no md5 bucket: the oracle's CONTROL_PAIR_JOIN
    (an equi-join on _bkt) never pairs such rows, and neither may the
    Spark pairing, whatever non-NULL rows surround them."""
    import duckdb

    from rdbms_metadata_manager_spark.llm.hashing import (
        CONTROL_PAIR_JOIN,
        md5_control_pairs,
        md5_control_pairs_ctes,
    )

    rows = [(i, f"t{i}") for i in range(40)] + [(None, f"n{j}") for j in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, tag string")
    got = sorted(tuple(r) for r in md5_control_pairs(df, "doc_id").collect())

    values = ", ".join(
        f"({'CAST(NULL AS BIGINT)' if i is None else i}, '{t}')" for i, t in rows
    )
    src = f"SELECT * FROM (VALUES {values}) v(doc_id, tag)"
    want = sorted(
        duckdb.sql(
            f"WITH {md5_control_pairs_ctes(src, 'doc_id')} "
            "SELECT a.doc_id, a.tag, b.doc_id, b.tag "
            f"FROM {CONTROL_PAIR_JOIN}"
        ).fetchall()
    )
    assert want, "the non-NULL rows must still pair"
    assert got == want
