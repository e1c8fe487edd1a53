"""Round-3 session-I operators: mergeable HLL sketches, SQL TVF
lateral, lateral column aliases (parity lives in
test_oracle_parity.py; these pin the properties parity can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.queries.base import load
from rdbms_metadata_manager_spark.queries.modern import hll_sketch_partition_union


def test_hll_union_tracks_direct_sketch(spark, sf_dir):
    """Merging per-source sketches must track the directly-built
    global sketch: union is register-wise max, but datasketches
    promotes LIST→SET→HLL along different paths for the two builds,
    so estimates are NOT bit-identical (measured 501 vs 502 at
    sf0.001) — both must land within the lgConfigK=12 error band of
    each other and of the exact count. This is the property that lets
    a pipeline answer global distinct questions from materialized
    per-partition sketches without a rescan."""
    d = load(spark, sf_dir, "documents")
    exact = d.select("text").distinct().count()
    direct = d.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(text, 12))").alias("e")
    ).collect()[0]["e"]
    merged = (
        d.groupBy("source")
        .agg(F.expr("hll_sketch_agg(text, 12)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("e"))
        .collect()[0]["e"]
    )
    assert abs(direct - exact) <= 0.05 * exact
    assert abs(merged - exact) <= 0.05 * exact
    assert abs(merged - direct) <= 0.05 * exact


def test_hll_scopes_and_flags(spark, sf_dir):
    rows = hll_sketch_partition_union(spark, sf_dir).collect()
    scopes = [r["scope"] for r in rows]
    assert scopes == sorted(scopes) and scopes[0] == "ALL"
    n_sources = load(spark, sf_dir, "documents").select("source").distinct().count()
    assert len(rows) == n_sources + 1
    assert all(r["approx_ok"] for r in rows)
    # the ALL row counts cross-source dups once: <= sum of per-source
    all_row = next(r for r in rows if r["scope"] == "ALL")
    assert all_row["exact_docs"] <= sum(r["exact_docs"] for r in rows if r["scope"] != "ALL")


def test_pq_codes_shape_and_determinism(spark, sf_dir):
    """Every vector gets exactly M_SUB codes, all codes land in
    [0, K_PQ); re-running the full train+encode path reproduces the
    identical code table (the no-RNG contract every oracle-matched
    iterative op shares)."""
    from rdbms_metadata_manager_spark.llm import pq
    from rdbms_metadata_manager_spark.llm.similarity import _as_double

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    sv = pq._subvectors(emb)
    codebook = pq._train_codebook(sv)
    assert codebook.count() == pq.M_SUB * pq.K_PQ
    codes = pq._pq_assign(sv, codebook).select("vec_id", "sub", "code")
    n_vecs = emb.count()
    assert codes.count() == n_vecs * pq.M_SUB
    bad = codes.filter((F.col("code") < 0) | (F.col("code") >= pq.K_PQ)).count()
    assert bad == 0
    again = pq._pq_assign(sv, pq._train_codebook(sv)).select("vec_id", "sub", "code")
    assert codes.exceptAll(again).count() == 0 and again.exceptAll(codes).count() == 0


def test_pq_adc_ranks_by_true_distance_on_separated_clusters(spark, tmp_path):
    """On a corpus with two well-separated blobs, the ADC top-k must
    come entirely from the query's blob — the scale-separation
    property quantization must preserve (testdata vectors are nearly
    equidistant, so this needs a crafted corpus; see memory note)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from rdbms_metadata_manager_spark.llm.pq import pq_adc_search

    near, far = [], []
    for i in range(40):
        base = [0.0] * 64
        base[i % 8] = 1.0 + (i % 5) * 0.01       # query blob: mass in dims 0-7
        near.append(base)
        base2 = [0.0] * 64
        base2[56 + i % 8] = 9.0 + (i % 5) * 0.01  # far blob: dims 56-63, larger norm
        far.append(base2)
    vecs = near + far
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [pd.Series(v, dtype="float32").tolist() for v in vecs],
            "label": [0] * len(near) + [1] * len(far),
        }
    )
    tbl = pa.Table.from_pandas(pdf, schema=pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ))
    pq_.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    rows = pq_adc_search(spark, str(tmp_path)).collect()
    assert 0 < len(rows) <= 10
    assert all(r.vec_id < 40 for r in rows), rows  # all hits from the query blob


def test_ivfpq_hits_come_from_probed_cells(spark, sf_dir):
    """Every IVFPQ hit must lie in one of the query's IVFPQ_NPROBE
    nearest coarse cells (the index never scans other partitions),
    with a non-negative integer ADC distance."""
    from rdbms_metadata_manager_spark.llm.kmeans import _dist2, shared_centroids
    from rdbms_metadata_manager_spark.llm.pq import IVFPQ_NPROBE, ivfpq_residual_search
    from rdbms_metadata_manager_spark.llm.similarity import _as_double

    rows = ivfpq_residual_search(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    centroids = shared_centroids(spark, sf_dir, emb)
    probed = [
        r.cid
        for r in (
            emb.filter(F.col("vec_id") == 0)
            .join(F.broadcast(centroids))
            .withColumn("d2", _dist2(F.col("v"), F.col("centroid")))
            .orderBy("d2", "cid")
            .limit(IVFPQ_NPROBE)
            .collect()
        )
    ]
    assert all(r.cell in probed for r in rows), (probed, rows)
    assert all(r.adc_d2_ticks >= 0 for r in rows)


def test_ivfpq_and_flat_pq_rerank_identically_on_shared_hits(spark, sf_dir):
    """Both searches rerank candidates by EXACT cosine against the
    float originals, so any vec_id surfaced by both paths must carry
    a bit-identical cosine — the quantization scheme may change WHICH
    candidates surface, never how a surfaced candidate is scored."""
    from rdbms_metadata_manager_spark.llm import pq as pqmod

    flat = {r.vec_id: r for r in pqmod.pq_adc_search(spark, sf_dir).collect()}
    ivf = {r.vec_id: r for r in pqmod.ivfpq_residual_search(spark, sf_dir).collect()}
    assert len(flat) == 10 and len(ivf) == 10
    # both searches rerank by exact cosine, so the reported cosine of
    # any shared vec_id must be bit-identical across the two paths
    for vid in set(flat) & set(ivf):
        assert flat[vid].cosine == ivf[vid].cosine


def test_gopher_profile_flags_repetition_and_clean_docs(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from rdbms_metadata_manager_spark.llm.hygiene import gopher_repetition_profile

    spam = " ".join(["spam"] * 20)                      # 20 words, 99 chars
    clean = " ".join(f"w{i:02d}" for i in range(20))    # all distinct
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [spam, clean],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [len(spam), len(clean)],
        }
    )
    pq_.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "documents.parquet"))
    rows = {(r.doc_id, r.n): r for r in gopher_repetition_profile(spark, str(tmp_path)).collect()}
    assert len(rows) == 2 * 9
    # spam doc, n=2: top gram 'spam spam' occurs 19x, 9 chars each ->
    # 19*9*1000 // 99 = 1727 (>1000: occurrences counted, not unioned)
    assert rows[(1, 2)].metric == "top_ngram_pm" and rows[(1, 2)].pm == 19 * 9 * 1000 // 99
    # spam doc, n=5: every 5-gram identical -> dup covers 16 * 24 chars
    assert rows[(1, 5)].metric == "dup_ngram_pm" and rows[(1, 5)].pm == 16 * 24 * 1000 // 99
    # clean doc: top 2-gram is unique (count 1), no dup n-grams at all
    assert rows[(2, 2)].pm == 1000 * 7 // len(clean)  # one 7-char gram
    for n in range(5, 11):
        assert rows[(2, n)].pm == 0


def test_span_corruption_roundtrip_reconstructs_originals(spark, sf_dir):
    """THE span-corruption invariant: splicing each sentinel's target
    span back into the input must reproduce the original document
    byte-for-byte — proves inputs and targets partition the token
    stream with consistent sentinel numbering. Also bounds the noise
    rate at the configured ~15% corpus-wide."""
    import re

    from rdbms_metadata_manager_spark.llm.sampling import span_corruption_pairs

    docs = {r.doc_id: r.text for r in load(spark, sf_dir, "documents").collect()}
    rows = span_corruption_pairs(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    masked = total = 0
    for r in rows:
        spans: dict[str, list[str]] = {}
        cur = None
        for tok in r.target_text.split(" ") if r.target_text else []:
            if re.fullmatch(r"<extra_id_\d+>", tok):
                cur = tok
                spans[cur] = []
            else:
                spans[cur].append(tok)
        assert len(spans) == r.n_spans
        rebuilt = []
        for tok in r.input_text.split(" "):
            if re.fullmatch(r"<extra_id_\d+>", tok):
                rebuilt.extend(spans[tok])
            else:
                rebuilt.append(tok)
        assert " ".join(rebuilt) == docs[r.doc_id], r.doc_id
        masked += sum(len(v) for v in spans.values())
        total += len(docs[r.doc_id].split(" "))
    assert 0.05 <= masked / total <= 0.30  # ~15% target, hash-driven
