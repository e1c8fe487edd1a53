"""Deterministic sampling / splitting / packing over ``documents``.

[beyond-reference] training-data-pipeline surface: reproducible
corpus sampling is the first operator any 100 TB pretraining run
needs — `rand()` resamples differently per run and per partitioning,
so every decision here is a pure function of the row key via the
md5-derived `h32` hash (identical in Spark and DuckDB, see
``hashing.py``). That makes splits stable under repartitioning,
retries, and engine swaps — and lets the DuckDB oracle check them
exactly.

Scale: all three operators are embarrassingly parallel projections
or a single window over a partitioned key — no driver collects, no
Python UDFs; at 100 TB they run at scan speed (the packing window
shuffles once on its partition key, which is the intended layout for
writing shards anyway).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load, load_spread
from .hashing import h32, h32_sql

# Per-language per-mille keep rates: downsample dominant English,
# keep the tail languages whole — the standard corpus-rebalancing
# move. (Rates are per-mille of the deterministic hash bucket.)
STRAT_RATES = {"en": 400, "de": 1000, "fr": 1000, "es": 1000, "zh": 800}
SEQ_BUDGET = 512  # tokens per packed training sequence


def _split_bucket(key):
    """0..99 bucket from a salted md5 hash of the doc key."""
    return h32(F.concat(F.lit("split:"), key.cast("string"))) % 100


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment keyed on
    doc_id. The split survives reshuffles and incremental re-runs:
    a document's assignment never depends on what else is in the
    batch (unlike ``df.randomSplit``, which is seed- and
    partitioning-sensitive)."""
    docs = load(spark, sf_dir, "documents")
    bucket = _split_bucket(F.col("doc_id"))
    return (
        docs.select(
            "doc_id",
            "lang",
            bucket.alias("bucket"),
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


_SPLIT_KEY = "'split:' || doc_id::VARCHAR"
_SPLIT_BUCKET_SQL = f"{h32_sql(_SPLIT_KEY)} % 100"

_SPLIT_SQL = f"""
SELECT doc_id, lang,
       {_SPLIT_BUCKET_SQL} AS bucket,
       CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split keyed on CONTENT (md5 of text), not doc_id —
    every verbatim copy of a document lands in the same split, so an
    exact duplicate can never sit in train while its twin sits in
    test (the eval-leakage failure mode of row-keyed splits; the
    near-dup-safe extension keys on the dedup cluster id instead).
    Same deterministic hash-bucket machinery as
    `split_train_val_test`; the per-group invariant is pinned by
    test, and the testdata's planted duplicate families exercise it
    for real.

    Scale: pure projection — the content hash is computed where the
    row already is; no shuffle, no group materialization."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5("text")
    bucket = _split_bucket(fp)
    return (
        docs.select(
            "doc_id",
            fp.alias("text_hash"),
            bucket.alias("bucket"),
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


_LEAK_KEY = "'split:' || md5(text)"
_LEAK_BUCKET_SQL = f"{h32_sql(_LEAK_KEY)} % 100"

_LEAK_SPLIT_SQL = f"""
SELECT doc_id, md5(text) AS text_hash,
       {_LEAK_BUCKET_SQL} AS bucket,
       CASE WHEN {_LEAK_BUCKET_SQL} < 80 THEN 'train'
            WHEN {_LEAK_BUCKET_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Bernoulli sample with per-language keep rates
    (STRAT_RATES, per-mille) — hash-deterministic, so the sampled
    set is reproducible byte-for-byte. The rate table is a broadcast
    lookup join, exactly like the reference's Rule-4 expected-type
    dictionary (app.py:79-84) but applied to the data plane."""
    docs = load(spark, sf_dir, "documents")
    # pandas+Arrow so the 5-row rate table is a LocalTableScan, not a
    # Python-RDD scan (see catalog/fixtures.py::_local_df rationale).
    rates = spark.createDataFrame(
        pd.DataFrame({"lang": list(STRAT_RATES), "keep_rate": list(STRAT_RATES.values())})
    )
    bucket = h32(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))) % 1000
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("keep_rate"))
        .select("doc_id", "lang", "source", bucket.alias("strat_bucket"))
        .orderBy("doc_id")
    )


_RATES_VALUES = ", ".join(f"('{k}', {v})" for k, v in STRAT_RATES.items())

_STRAT_SQL = f"""
WITH rates(lang, keep_rate) AS (VALUES {_RATES_VALUES})
SELECT d.doc_id, d.lang, d.source,
       {h32_sql("'strat:' || doc_id::VARCHAR")} % 1000 AS strat_bucket
FROM documents d JOIN rates USING (lang)
WHERE {h32_sql("'strat:' || doc_id::VARCHAR")} % 1000 < keep_rate
ORDER BY doc_id
"""


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each language
    stream (ordered by doc_id), documents are laid end-to-end and
    cut into SEQ_BUDGET-token training sequences; each document is
    tagged with the sequence it *starts* in and its token offset
    there. One exclusive running sum per partition — all integer
    arithmetic, exact in both engines. At 100 TB the window
    partitions by the shard key you write out by, so the shuffle is
    the one you'd do anyway."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_cum = docs.select(
        "doc_id", "lang", n_tokens.alias("n_tokens")
    ).withColumn("start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        with_cum.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(F.col("start_offset") / SEQ_BUDGET).alias("seq_id"),
            (F.col("start_offset") % SEQ_BUDGET).alias("offset_in_seq"),
        )
        .orderBy("lang", "doc_id")
    )


_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
  FROM t
)
SELECT doc_id, lang, n_tokens,
       start_offset // {SEQ_BUDGET} AS seq_id,
       start_offset % {SEQ_BUDGET} AS offset_in_seq
FROM c
ORDER BY lang, doc_id
"""


RESERVOIR_K = 5


def sample_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (k docs per source) — a
    derandomized reservoir: rank rows by a salted hash and keep the
    top k per group. Same uniform-without-replacement guarantee as
    reservoir sampling, but deterministic and mergeable: at 100 TB
    each partition pre-ranks locally, and re-running on more data
    only ever *replaces* ranks, never reshuffles past picks."""
    docs = load(spark, sf_dir, "documents")
    pri = h32(F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("pri", "doc_id")
    return (
        docs.select("doc_id", "source", pri.alias("pri"))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= RESERVOIR_K)
        .select("source", "sample_rank", "doc_id")
        .orderBy("source", "sample_rank")
    )


_RESERVOIR_SQL = f"""
WITH r AS (
  SELECT doc_id, source,
         {h32_sql("'reservoir:' || doc_id::VARCHAR")} AS pri,
         ROW_NUMBER() OVER (
             PARTITION BY source
             ORDER BY {h32_sql("'reservoir:' || doc_id::VARCHAR")}, doc_id
         ) AS sample_rank
  FROM documents
)
SELECT source, sample_rank::INT AS sample_rank, doc_id
FROM r WHERE sample_rank <= {RESERVOIR_K}
ORDER BY source, sample_rank
"""


WEIGHTED_K = 100


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample: k docs with the
    smallest hash/weight priority (weight = n_chars, so longer docs
    are proportionally likelier — the hash plays the role of the
    uniform draw in A-ES weighted reservoir sampling, derandomized).
    Global top-k by (priority, doc_id) plans as TakeOrderedAndProject
    — per-partition heaps, merge k rows, no global sort."""
    docs = load(spark, sf_dir, "documents")
    pri = (
        h32(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string")))
        / F.col("n_chars")
    )
    return (
        docs.select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(WEIGHTED_K)
    )


_WEIGHTED_SQL = f"""
SELECT doc_id, n_chars,
       {h32_sql("'wsamp:' || doc_id::VARCHAR")} * 1.0 / n_chars AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT {WEIGHTED_K}
"""


SHARD_CAPACITY = 256  # tokens per training shard


def _pack_source(pdf: pd.DataFrame) -> pd.DataFrame:
    """Next-fit per source, docs in doc_id order: a doc that does not
    fit closes the current shard and opens the next (an oversized doc
    gets a shard of its own). Sequential state (current fill) makes
    this a genuine grouped-map job — no window expresses a capped
    RESETTING running total."""
    pdf = pdf.sort_values("doc_id")
    shards, fill, shard = [], 0, 0
    first = True
    for t in pdf["tokens"]:
        if not first and fill + t > SHARD_CAPACITY:
            shard += 1
            fill = 0
        shards.append(shard)
        fill += t
        first = False
    out = pdf[["source", "doc_id", "tokens"]].copy()
    out["shard_id"] = pd.array(shards, dtype="int64")
    return out


def shard_packing_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assignment for training-data files: per source, next-fit
    packing of documents into ~SHARD_CAPACITY-token shards — the step
    between curation and the dataloader (shard = one output file).

    This is the grouped-map ``applyInPandas`` face: per-group logic
    that is SEQUENTIAL (each admission depends on the fill left by
    every earlier doc), which no window/fold combination expresses
    relationally — the same class of computation as the recursive
    balance replay, and the oracle is likewise a recursive CTE
    stepping one document per level. Scale: groups (sources) fan out
    across executors; within a group the loop is O(docs) in Arrow
    batches — the standard contract for applyInPandas (a group must
    fit one executor; shard further by (source, day) when it cannot)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "source",
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("long").alias(
            "tokens"
        ),
    )
    return (
        d.groupBy("source")
        .applyInPandas(_pack_source, "source string, doc_id long, tokens long, shard_id long")
        .orderBy("source", "doc_id")
    )


_SHARD_SQL = f"""
WITH RECURSIVE d AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS i
  FROM documents
),
walk AS (
  SELECT source, doc_id, tokens, i,
         CAST(0 AS BIGINT) AS shard_id, tokens AS fill
  FROM d WHERE i = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.tokens, d.i,
         CASE WHEN w.fill + d.tokens > {SHARD_CAPACITY}
              THEN w.shard_id + 1 ELSE w.shard_id END,
         CASE WHEN w.fill + d.tokens > {SHARD_CAPACITY}
              THEN d.tokens ELSE w.fill + d.tokens END
  FROM walk w JOIN d ON d.source = w.source AND d.i = w.i + 1
)
SELECT source, doc_id, tokens, shard_id
FROM walk
ORDER BY source, doc_id
"""

# Power-of-two histogram edges (tokens). A doc with n tokens falls in
# the bucket whose lo ≤ n < next lo; the open top bucket catches the
# long tail a packing run has to split.
LEN_BUCKETS = (0, 16, 32, 64, 128, 256, 512, 1024)


def sequence_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution + padding-waste report for a
    SEQ_BUDGET-token training run — the capacity-planning readout a
    packing job (``pack_training_sequences``) is sized from. Per
    power-of-two length bucket: document count, total tokens, and the
    pad tokens a naive one-doc-per-sequence loader would burn
    (``SEQ_BUDGET·ceil(n/SEQ_BUDGET) − n``); the waste column is what
    justifies concat-and-chunk packing to the team that owns the GPUs.

    One codegen projection + one 8-group aggregate — runs at scan
    speed at any corpus size. The bucket edges are a literal CASE
    chain (not log2: libm rounding is engine-dependent, a CASE on
    integers is exact everywhere)."""
    edges = list(LEN_BUCKETS)
    bucket = F.lit(edges[-1])
    for lo, hi in zip(reversed(edges[:-1]), reversed(edges[1:])):
        bucket = F.when(F.col("n_tokens") < hi, F.lit(lo)).otherwise(bucket)
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    pad = F.expr(
        f"(({SEQ_BUDGET} - n_tokens % {SEQ_BUDGET}) % {SEQ_BUDGET})"
    )
    return (
        d.select(bucket.alias("bucket_lo"), "n_tokens", pad.alias("pad"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
            F.sum("pad").alias("pad_waste_tokens"),
        )
        .orderBy("bucket_lo")
    )


def _len_bucket_sql(col: str) -> str:
    edges = list(LEN_BUCKETS)
    branches = "".join(
        f"WHEN {col} < {hi} THEN {lo} " for lo, hi in zip(edges[:-1], edges[1:])
    )
    return f"CASE {branches}ELSE {edges[-1]} END"


_LEN_HIST_SQL = f"""
WITH d AS (
  SELECT len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
)
SELECT {_len_bucket_sql("n_tokens")} AS bucket_lo,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens_total,
       sum(({SEQ_BUDGET} - n_tokens % {SEQ_BUDGET}) % {SEQ_BUDGET})::BIGINT AS pad_waste_tokens
FROM d
GROUP BY 1
ORDER BY bucket_lo
"""


SPAN_START_PM = 50  # 5% of positions open a span; x SPAN_LEN ~= 15% noise
SPAN_LEN = 3


def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair generation (Raffel et al. 2020):
    each document becomes a (input, target) denoising example — ~15%
    of tokens are masked in contiguous spans, each span replaced by a
    sentinel ``<extra_id_k>`` in the input and spelled out after the
    same sentinel in the target. The "randomness" is the corpus
    convention of this repo: a per-(doc, position) md5-derived draw
    (`h32(doc_id:i) % 1000 < 50` opens a 3-token span), so the same
    document always corrupts identically, on any partitioning, in
    both engines — `randomSplit`-style RNG would be neither
    repartition-stable nor oracle-checkable.

    Shape: one posexplode, two windows on the SAME (doc_id, i) sort
    (coverage lookback, then lag + running span count — single
    exchange), one doc rollup that rebuilds both texts via
    sorted-struct folds. Overlapping spans merge into one island, so
    sentinels number consecutive masked runs. Docs with no draw come
    back verbatim with an empty target.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).select("doc_id", (F.col("pos") + 1).alias("i"), "w")
    u = (
        h32(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("i").cast("string")))
        % 1000
    )
    flagged = words.withColumn("start", (u < SPAN_START_PM).cast("int"))
    lookback = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(SPAN_LEN - 1), 0)
    seq = Window.partitionBy("doc_id").orderBy("i")
    isl = (
        flagged.withColumn("covered", F.max("start").over(lookback) == 1)
        .withColumn("prev_cov", F.lag("covered", 1, False).over(seq))
        .withColumn("span_first", F.col("covered") & ~F.col("prev_cov"))
        .withColumn("span_id", F.sum(F.col("span_first").cast("int")).over(seq))
    )
    sentinel = F.concat(F.lit("<extra_id_"), (F.col("span_id") - 1).cast("string"), F.lit(">"))
    p_in = F.when(~F.col("covered"), F.col("w")).when(F.col("span_first"), sentinel)
    p_tgt = F.when(
        F.col("covered") & F.col("span_first"), F.concat(sentinel, F.lit(" "), F.col("w"))
    ).when(F.col("covered"), F.col("w"))

    def _joined(piece):
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(piece.isNotNull(), F.struct(F.col("i").alias("i"), piece.alias("p")))
                    )
                ),
                lambda s: s["p"],
            ),
            " ",
        )

    return (
        isl.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("covered"), F.col("span_id"))), F.lit(0)
            ).cast("bigint").alias("n_spans"),
            _joined(p_in).alias("input_text"),
            _joined(p_tgt).alias("target_text"),
        )
        .orderBy("doc_id")
    )


_SPAN_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(words, 1) AS i, unnest(words) AS w FROM w
),
flagged AS (
  SELECT doc_id, i, w,
         CASE WHEN {h32_sql("doc_id::VARCHAR || ':' || i::VARCHAR")} % 1000
                   < {SPAN_START_PM} THEN 1 ELSE 0 END AS start
  FROM tok
),
cov AS (
  SELECT *, max(start) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN {SPAN_LEN - 1} PRECEDING AND CURRENT ROW) = 1
            AS covered
  FROM flagged
),
isl AS (
  SELECT *,
         covered AND NOT coalesce(lag(covered) OVER (PARTITION BY doc_id ORDER BY i), false)
           AS span_first
  FROM cov
),
spans AS (
  SELECT *, sum(CASE WHEN span_first THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY i) AS span_id
  FROM isl
),
pieces AS (
  SELECT doc_id, i, covered, span_id,
         CASE WHEN NOT covered THEN w
              WHEN span_first THEN '<extra_id_' || (span_id - 1)::VARCHAR || '>' END AS p_in,
         CASE WHEN covered AND span_first
                   THEN '<extra_id_' || (span_id - 1)::VARCHAR || '> ' || w
              WHEN covered THEN w END AS p_tgt
  FROM spans
)
SELECT doc_id,
       coalesce(max(CASE WHEN covered THEN span_id END), 0)::BIGINT AS n_spans,
       coalesce(string_agg(p_in, ' ' ORDER BY i), '') AS input_text,
       coalesce(string_agg(p_tgt, ' ' ORDER BY i), '') AS target_text
FROM pieces
GROUP BY doc_id
ORDER BY doc_id
"""


CORESET_K = 8
CORESET_TICK = 1000
CORESET_POOL = 256  # certified candidate pool size (driver ~130 KB)


def coreset_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset (farthest-point sampling) over the
    embedding corpus: seed at vec_id 0, then K−1 times pick the
    vector FARTHEST (max over corpus of min distance to the chosen
    set) — the classic 2-approximation of the k-center cover, and the
    diversity-subset selection a curation pipeline runs to pick
    maximally-spread exemplars (complementary to
    [[similarity_mmr_rerank]], which diversifies a per-query result
    list, and to [[kmeans_clusters]], which optimizes means not
    cover). Reports each pick with its selection-time distance² —
    rank r's dist2 IS the covering radius² of the first r−1 centers.

    Exactness: distances are SQUARED EUCLIDEAN over fixed-point int64
    ticks — pure integer arithmetic end-to-end, so the argmax and the
    tie-break (dist2 desc, vec_id) are exact in both engines.

    Scale/plan: ONE distributed pass (an Arrow kernel:
    |x|²+|c|²−2x·c int64 matmul vs the seed) collects the top
    CORESET_POOL+1 candidates WITH a correctness certificate, then
    the greedy picks run on the driver over that bounded pool.
    The certificate: updated min-dists only DECREASE, so every
    non-collected vector's future min-dist ≤ the pool cutoff (the
    (POOL+1)-th min-dist at collection time); while each driver
    pick's updated min-dist is STRICTLY above the cutoff, the pick
    provably equals the exact global greedy. When the certificate
    fails (near-equidistant geometry — this corpus), the pool is
    REFRESHED with one full scan against all current centers, whose
    top-1 is the exact argmax unconditionally — so exactness never
    depends on the geometry, only the pass count does. The naive
    one-scan-per-pick loop measured 3.5 s at sf0.1; pool refreshes
    cut it to ~3 passes. At 100 TB: a handful of passes over the
    corpus, driver state is POOL×D ticks (≈130 KB), the
    kmeans-centroid decision class."""
    import numpy as np

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(CORESET_TICK))).cast(
                "long"
            ),
        ).alias("tk"),
    )
    seed = emb.filter(F.col("vec_id") == 0).collect()
    picked: list[tuple[int, int, int]] = []  # (rank, vec_id, dist2)
    centers: list[list[int]] = []

    def mind_kernel(centers_now):
        C = np.array(centers_now, dtype=np.int64)
        cn = (C * C).sum(axis=1)

        def _mind(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(
                    [np.asarray(t, dtype=np.int64) for t in pdf["tk"]],
                    dtype=np.int64,
                )
                xn = (X * X).sum(axis=1)
                d2 = xn[:, None] + cn[None, :] - 2 * (X @ C.T)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "mind": d2.min(axis=1),
                        "tk": pdf["tk"],
                    }
                )

        return _mind

    if seed:
        picked.append((1, 0, 0))
        centers.append([int(t) for t in seed[0].tk])
        cand_ids: list[int] = []
        cand_tk = np.zeros((0, 1), dtype=np.int64)
        cand_mind = np.zeros(0, dtype=np.int64)
        in_pool = np.zeros(0, dtype=bool)
        cutoff = -1

        def refresh_pool():
            """One distributed pass: top-(POOL+1) by CURRENT min-dist
            (excluding chosen). Returns False when the corpus is
            exhausted. The fresh top-1 is the exact global argmax."""
            nonlocal cand_ids, cand_tk, cand_mind, in_pool, cutoff
            chosen = [p[1] for p in picked]
            rows = (
                emb.filter(~F.col("vec_id").isin(chosen))
                .mapInPandas(
                    mind_kernel(centers), "vec_id long, mind long, tk array<long>"
                )
                .orderBy(F.col("mind").desc(), "vec_id")
                .limit(CORESET_POOL + 1)
                .collect()
            )
            if not rows:
                return False
            cutoff = int(rows[CORESET_POOL].mind) if len(rows) > CORESET_POOL else -1
            head = rows[:CORESET_POOL]
            cand_ids = [int(r.vec_id) for r in head]
            cand_tk = np.array(
                [np.asarray(r.tk, dtype=np.int64) for r in head], dtype=np.int64
            ).reshape(len(head), -1)
            cand_mind = np.array([int(r.mind) for r in head], dtype=np.int64)
            in_pool = np.ones(len(head), dtype=bool)
            return True

        fresh = refresh_pool()
        rank = 2
        while rank <= CORESET_K and len(picked) < CORESET_K:
            best_i = None
            for i in np.flatnonzero(in_pool):
                if best_i is None or (cand_mind[i], -cand_ids[i]) > (
                    cand_mind[best_i],
                    -cand_ids[best_i],
                ):
                    best_i = int(i)
            # certificate: non-collected vectors' future min-dists only
            # DECREASE, so they are ≤ cutoff; a pool pick STRICTLY above
            # the cutoff provably equals the exact global greedy (on
            # equality an outside vector could win the vec_id
            # tie-break). A just-refreshed pool's top-1 is the argmax
            # of a full scan — exact unconditionally.
            certified = best_i is not None and (
                fresh or int(cand_mind[best_i]) > cutoff
            )
            if not certified:
                if not refresh_pool():
                    break
                fresh = True
                continue
            picked.append((rank, cand_ids[best_i], int(cand_mind[best_i])))
            centers.append([int(t) for t in cand_tk[best_i]])
            in_pool[best_i] = False
            c = cand_tk[best_i]
            d2 = ((cand_tk - c[None, :]) ** 2).sum(axis=1)
            cand_mind = np.minimum(cand_mind, d2)
            fresh = False
            rank += 1
    pdf = pd.DataFrame(
        {
            "rank": pd.Series([p[0] for p in picked], dtype=object),
            "vec_id": pd.Series([p[1] for p in picked], dtype=object),
            "dist2": pd.Series([p[2] for p in picked], dtype=object),
        }
    )
    return spark.createDataFrame(pdf, "rank bigint, vec_id bigint, dist2 bigint")


def _coreset_oracle() -> str:
    def dist_to(s: str) -> str:
        return (
            "CAST(list_sum(list_transform(range(1, 65), "
            f"i -> (t.tk[i] - {s}.tk[i]) * (t.tk[i] - {s}.tk[i]))) AS BIGINT)"
        )

    ctes = [
        "t AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        f"x -> CAST(floor(x * {CORESET_TICK}) AS BIGINT)) AS tk FROM embeddings)",
        "sel1 AS MATERIALIZED (SELECT 1::BIGINT AS rank, vec_id, "
        "0::BIGINT AS dist2, tk FROM t WHERE vec_id = 0)",
    ]
    for k in range(2, CORESET_K + 1):
        prev = ", ".join(f"(SELECT vec_id FROM sel{j})" for j in range(1, k))
        # centers are 1-row CTEs — cross-join them into scope (DuckDB
        # lambdas can't capture a correlated subquery's columns).
        froms = ", ".join([f"sel{j} s{j}" for j in range(1, k)])
        legs = ", ".join(dist_to(f"s{j}") for j in range(1, k))
        mind = legs if k == 2 else f"least({legs})"
        ctes.append(
            f"""sel{k} AS MATERIALIZED (
  SELECT {k}::BIGINT AS rank, t.vec_id, {mind} AS dist2, t.tk
  FROM t, {froms} WHERE t.vec_id NOT IN ({prev})
  ORDER BY dist2 DESC, t.vec_id LIMIT 1
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT rank, vec_id, dist2 FROM sel{k}" for k in range(1, CORESET_K + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM (\n{union}\n) ORDER BY rank"



SHUFFLE_EPOCHS = 3
SHUFFLE_SHARDS = 8


def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle-shard assignment — the data-
    loader contract for multi-epoch training: every (epoch, doc) maps
    to a shard via ``pmod(h32('ep<e>:' || doc_id), NSHARDS)``, so the
    assignment is (a) reproducible from the id alone (restartable
    training, no stored permutation), (b) INDEPENDENT across epochs
    (a different salt per epoch reshuffles the corpus), and (c)
    balanced in expectation. Reported per (epoch, shard): docs, token
    mass, deviation from the epoch's ideal shard mass in per-mille,
    and how many docs moved relative to their epoch-0 shard — the
    reshuffle-actually-reshuffles audit (epoch 0's moved count is 0
    by construction).

    Scale: a pure projection (no window, no join) — epochs explode
    ×E, then ONE (epoch, shard) rollup plus a per-epoch total join of
    E rows, broadcast. This is exactly the assignment a 100 TB
    dataloader computes on the fly per worker."""
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    shard_at = lambda e: F.pmod(
        h32(F.concat(F.lit(f"ep{e}:"), F.col("doc_id").cast("string"))),
        F.lit(SHUFFLE_SHARDS),
    )
    exploded = d.select(
        "doc_id",
        "n_tokens",
        shard_at(0).alias("shard0"),
        F.explode(F.array(*[F.lit(e) for e in range(SHUFFLE_EPOCHS)])).alias("epoch"),
    ).withColumn(
        "shard",
        F.pmod(
            h32(F.concat(F.lit("ep"), F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string"))),
            F.lit(SHUFFLE_SHARDS),
        ),
    )
    per = exploded.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum((F.col("shard") != F.col("shard0")).cast("bigint")).alias("n_moved"),
    )
    totals = per.groupBy("epoch").agg(F.sum("n_tokens").alias("total_tokens"))
    return (
        per.join(F.broadcast(totals), "epoch")
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            "shard",
            "n_docs",
            "n_tokens",
            "n_moved",
            F.expr(
                f"CAST((1000 * n_tokens * {SHUFFLE_SHARDS}) div total_tokens"
                " - 1000 AS BIGINT)"
            ).alias("dev_permille"),
        )
        .orderBy("epoch", "shard")
    )


def _epoch_shuffle_sql() -> str:
    h = lambda e_expr: h32_sql(f"'ep' || {e_expr} || ':' || doc_id::VARCHAR")
    return f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
exploded AS (
  SELECT doc_id, n_tokens, epoch,
         {h("epoch::VARCHAR")} % {SHUFFLE_SHARDS} AS shard,
         {h("'0'")} % {SHUFFLE_SHARDS} AS shard0
  FROM d, (SELECT unnest(range(0, {SHUFFLE_EPOCHS})) AS epoch)
),
per AS (
  SELECT epoch, shard, count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS n_tokens,
         sum(CASE WHEN shard != shard0 THEN 1 ELSE 0 END)::BIGINT AS n_moved
  FROM exploded GROUP BY epoch, shard
),
totals AS (SELECT epoch, sum(n_tokens) AS total_tokens FROM per GROUP BY epoch)
SELECT p.epoch::BIGINT AS epoch, p.shard, p.n_docs, p.n_tokens, p.n_moved,
       CAST((1000 * p.n_tokens * {SHUFFLE_SHARDS}) // t.total_tokens - 1000 AS BIGINT)
         AS dev_permille
FROM per p JOIN totals t ON p.epoch = t.epoch
ORDER BY p.epoch, p.shard
"""


NEYMAN_BUDGET = 1000  # total sample size the plan allocates


def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation — how many of a
    NEYMAN_BUDGET-row sample each stratum should get to minimize the
    estimator variance: n_h ∝ N_h·σ_h (big AND volatile strata get
    more), the design upgrade over [[sample_stratified_lang]]'s
    proportional allocation (n_h ∝ N_h), reported side by side so the
    delta IS the variance win. Strata = market segment, metric =
    account balance cents.

    Exactness: N_h·σ_h = sqrt(N_h·Σx² − (Σx)²) — ONE IEEE sqrt of an
    exact DECIMAL-carried integer (correctly rounded, so both engines
    produce the identical double and the identical floor), then all
    allocation arithmetic returns to exact integers: alloc =
    BUDGET·w_h div Σw. Scale: one map-side-combined moment rollup per
    stratum; everything after is |strata| rows."""
    customer = load_spread(spark, sf_dir, "customer", "c_custkey")
    mom = (
        customer.select(
            F.col("c_mktsegment").alias("stratum"),
            F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias("x"),
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_pop"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
        )
        .withColumn(
            "w",
            F.expr(
                "CAST(floor(sqrt(CAST(n_pop * q - s * s AS DOUBLE))) AS BIGINT)"
            ),
        )
    )
    tot = mom.agg(
        F.sum("w").alias("w_tot"), F.sum("n_pop").alias("n_tot")
    )
    return (
        mom.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_pop",
            "w",
            F.expr(
                f"CAST({NEYMAN_BUDGET} * w div w_tot AS BIGINT)"
            ).alias("neyman_n"),
            F.expr(
                f"CAST({NEYMAN_BUDGET} * n_pop div n_tot AS BIGINT)"
            ).alias("proportional_n"),
        )
        .orderBy("stratum")
    )


_NEYMAN_SQL = f"""
WITH mom AS (
  SELECT c_mktsegment AS stratum,
         count(*)::BIGINT AS n_pop,
         sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)::HUGEINT) AS s,
         sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)::HUGEINT
             * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS q
  FROM customer GROUP BY 1
),
w AS (
  SELECT stratum, n_pop,
         CAST(floor(sqrt(CAST(n_pop * q - s * s AS DOUBLE))) AS BIGINT) AS w
  FROM mom
),
tot AS (SELECT sum(w) AS w_tot, sum(n_pop) AS n_tot FROM w)
SELECT stratum, n_pop, w,
       CAST({NEYMAN_BUDGET} * w // w_tot AS BIGINT) AS neyman_n,
       CAST({NEYMAN_BUDGET} * n_pop // n_tot AS BIGINT) AS proportional_n
FROM w, tot
ORDER BY stratum
"""



PACK_LENGTHS = [512, 1024, 2048, 4096]


def packing_bounds_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning curve — for each candidate sequence
    length L, the exact closed-form packing bounds a training run is
    budgeted from: how many documents overflow L (must truncate or
    split), how many tokens survive capping at L, the bin-packing
    LOWER bound ceil(capped_tokens / L), and the per-mille truncation
    loss. [[pack_training_sequences]] executes ONE packing at the
    deployed L; this is the capacity-planning sweep that chooses L —
    pure integer arithmetic, no sequential packing pass (the greedy
    packers are O(n) sequential; the BOUNDS are a single aggregate).

    Scale: one scan computing whitespace token counts, then a
    broadcast cross join against the 4-row L relation and one rollup
    — scan-bound at any corpus size."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    lens = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    ls = spark.createDataFrame([(l,) for l in PACK_LENGTHS], "l bigint")
    return (
        lens.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum((F.col("n_tokens") > F.col("l")).cast("bigint")).alias(
                "n_overflow_docs"
            ),
            F.sum(F.least("n_tokens", F.col("l"))).alias("capped_tokens"),
        )
        .select(
            F.col("l").alias("seq_len"),
            "n_docs",
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            "n_overflow_docs",
            F.col("capped_tokens").cast("bigint").alias("capped_tokens"),
            F.expr(
                "CAST((capped_tokens + seq_len - 1) div seq_len AS BIGINT)"
            ).alias("min_bins"),
            F.expr(
                "CASE WHEN total_tokens = 0 THEN NULL ELSE"
                " CAST((1000 * (total_tokens - capped_tokens))"
                " div total_tokens AS BIGINT) END"
            ).alias("truncation_loss_pm"),
        )
        .orderBy("seq_len")
    )


_PACK_BOUNDS_SQL = f"""
WITH lens AS (
  SELECT len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
),
ls AS (SELECT unnest([{', '.join(str(l) for l in PACK_LENGTHS)}])::BIGINT AS l)
SELECT l AS seq_len, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum(CASE WHEN n_tokens > l THEN 1 ELSE 0 END)::BIGINT AS n_overflow_docs,
       sum(least(n_tokens, l))::BIGINT AS capped_tokens,
       CAST((sum(least(n_tokens, l)) + l - 1) // l AS BIGINT) AS min_bins,
       CASE WHEN sum(n_tokens) = 0 THEN NULL ELSE
         CAST((1000 * (sum(n_tokens) - sum(least(n_tokens, l))))
              // sum(n_tokens) AS BIGINT) END AS truncation_loss_pm
FROM lens, ls
GROUP BY l
ORDER BY seq_len
"""


QUERIES = (
    (packing_bounds_curve, _PACK_BOUNDS_SQL),
    (neyman_allocation_plan, _NEYMAN_SQL),
    (coreset_kcenter_sample, _coreset_oracle()),
    (split_train_val_test, _SPLIT_SQL),
    (leakage_safe_split, _LEAK_SPLIT_SQL),
    (sample_stratified_lang, _STRAT_SQL),
    (pack_training_sequences, _PACK_SQL),
    (sample_reservoir_per_source, _RESERVOIR_SQL),
    (sample_weighted_topk, _WEIGHTED_SQL),
    (shard_packing_nextfit, _SHARD_SQL),
    (sequence_length_histogram, _LEN_HIST_SQL),
    (span_corruption_pairs, _SPAN_SQL),
    (epoch_shuffle_shards, _epoch_shuffle_sql()),
)
