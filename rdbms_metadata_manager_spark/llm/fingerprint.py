"""Winnowing document fingerprints (rolling k-gram hash scheme).

[beyond-reference] the local-fingerprinting algorithm of Schleimer,
Wilkerson & Aiken (SIGMOD'03, the MOSS scheme): hash every k-gram
with a rolling polynomial hash, slide a window of ``W`` consecutive
gram hashes over each document and keep each window's minimum —
guaranteeing any shared substring of length ``K + W - 1`` or more
contributes at least one common fingerprint, while storing only
~2/(W+1) of the grams.

The gram hash is the classic polynomial ``h = (h*B + code) mod M``
(B=257, M=2^31-1), evaluated as a **vectorized Arrow kernel**
(`pandas_udf`): one numpy sliding-window pass per document computes
all gram hashes and all window minima. This is the deliberate
exception to the built-ins-first rule — the same logic as native
HOF lambdas (`transform`/`aggregate`) runs in Catalyst's
*interpreted* lambda evaluator (HOFs don't codegen) and measured
~25x slower; a per-row compute kernel of ~n*K integer ops is
exactly what the Arrow batch path is for. Integer mod arithmetic on
unicode code points makes the DuckDB oracle (list-comprehension
form of the same polynomial) bit-identical.

``dedup_winnow_overlap`` turns the fingerprints into a near-dup
detector via the standard inverted-index self-join, with two scale
guards that survive 100 TB:

- **stop-gram removal**: fingerprints appearing in more than
  ``MAX_DF`` documents are dropped before the join — the skew guard
  that keeps bucket sizes (and the pair explosion) bounded on
  web-scale corpora;
- **containment threshold**: pairs qualify when shared fingerprints
  cover >= 1/2 of the smaller document's set, compared in exact
  integer arithmetic (``2*n_shared >= least(...)``).

Self-join lineage: the exploded side is built twice from separate
scans (PySpark HOF/UDF projections on a self-join must not share a
lineage — see ROADMAP invariants).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..queries.base import load_spread

K = 8  # k-gram length (chars)
W = 4  # winnow window (grams)
B = 257  # rolling-hash base
M = 2_147_483_647  # 2^31 - 1 (Mersenne prime modulus)
MAX_DF = 50  # stop-gram document-frequency cap


def _winnow_kernel(texts: pd.Series) -> pd.Series:
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    out = []
    for t in texts:
        # code points (not utf-8 bytes) — matches DuckDB ord()
        codes = np.fromiter((ord(c) for c in t.lower()), dtype=np.int64)
        if codes.size < K:
            out.append([])
            continue
        grams = sliding_window_view(codes, K)
        h = np.zeros(grams.shape[0], dtype=np.int64)
        for j in range(K):
            h = (h * B + grams[:, j]) % M
        if h.size < W:
            out.append([])
            continue
        mins = sliding_window_view(h, W).min(axis=1)
        out.append(np.unique(mins).tolist())
    return pd.Series(out)


def _fingerprints(docs: DataFrame) -> DataFrame:
    """doc_id + distinct winnow-selected fingerprint array."""
    # pandas_udf registration needs an active session → build per call
    winnow_udf = F.pandas_udf(_winnow_kernel, "array<long>")
    return docs.select("doc_id", winnow_udf(F.col("text")).alias("fps"))


# Materialized once per (session, corpus): the summary query and
# the overlap join both need the Arrow winnow kernel's output, and
# the overlap SELF-join previously re-ran the kernel on both sides
# (fresh lineage was required to dodge the shared-lambda self-join
# trap — a checkpoint sidesteps it by materializing instead).
def _fingerprints_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo.shared(
        spark,
        sf_dir,
        "fingerprints",
        lambda: _fingerprints(
            load_spread(spark, sf_dir, "documents", "doc_id")
        ).localCheckpoint(eager=True),
    )


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprint-set summary (count/min/max/sum pin the
    selected set exactly without shipping ~n/W rows per doc)."""
    fp = _fingerprints_for(spark, sf_dir)
    return (
        fp.filter(F.size("fps") > 0)  # drop docs shorter than K+W-1 (as the oracle does)
        .select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
            F.aggregate("fps", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_fp"),
        )
        .orderBy("doc_id")
    )


def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnow-fingerprint containment >= 1/2."""

    def exploded() -> DataFrame:
        # both sides read the one checkpointed kernel output
        fp = _fingerprints_for(spark, sf_dir)
        return fp.select(
            "doc_id", F.size("fps").alias("n_fp"), F.explode("fps").alias("fp")
        )

    ea = exploded()
    eb = exploded()

    rare = ea.groupBy("fp").count().filter(F.col("count") <= MAX_DF).select("fp")
    shared = (
        ea.alias("a")
        .join(rare, "fp")
        .join(eb.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_fp").alias("n_fp_a"),
            F.col("b.n_fp").alias("n_fp_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.filter(F.col("n_shared") * 2 >= F.least("n_fp_a", "n_fp_b"))
        .select("doc_a", "doc_b", "n_shared")
        .orderBy("doc_a", "doc_b")
    )


# DuckDB rendering of the same polynomial rolling hash + winnow.
_HS_SQL = f"""
  SELECT doc_id,
         [list_reduce([ord(substr(t, p + j, 1)) FOR j IN range(0, {K})],
                      (a, b) -> (a * {B}::BIGINT + b) % {M})
          FOR p IN range(1, length(t) - {K} + 2)] AS hs
  FROM (SELECT doc_id, lower(text) AS t FROM documents)
  WHERE length(t) >= {K}
"""

_WINNOW_SQL = f"""
  SELECT doc_id,
         list_distinct([list_aggregate(hs[i:i+{W - 1}], 'min')
                        FOR i IN range(1, len(hs) - {W} + 2)]) AS fps
  FROM ({_HS_SQL})
  WHERE len(hs) >= {W}
"""

_FINGERPRINT_SQL = f"""
WITH winnow AS ({_WINNOW_SQL})
SELECT doc_id,
       len(fps) AS n_fingerprints,
       list_aggregate(fps, 'min') AS min_fp,
       list_aggregate(fps, 'max') AS max_fp,
       list_aggregate(fps, 'sum')::BIGINT AS sum_fp
FROM winnow
ORDER BY doc_id
"""

_OVERLAP_SQL = f"""
WITH winnow AS ({_WINNOW_SQL}),
e AS (SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp FROM winnow),
rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= {MAX_DF}),
er AS (SELECT e.* FROM e JOIN rare USING (fp)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_fp AS n_fp_a, b.n_fp AS n_fp_b,
         count(*)::BIGINT AS n_shared
  FROM er a JOIN er b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, n_shared
FROM shared
WHERE n_shared * 2 >= least(n_fp_a, n_fp_b)
ORDER BY doc_a, doc_b
"""


QUERIES = (
    (text_winnow_fingerprints, _FINGERPRINT_SQL),
    (dedup_winnow_overlap, _OVERLAP_SQL),
)
