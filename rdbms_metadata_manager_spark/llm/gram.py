"""One-pass Gram matrix over the ``embeddings`` table — the
whitening / PCA preparation step of an embedding-curation pipeline
(the covariance eigenbasis is derived from X^T X downstream on the
driver; the expensive distributed part is exactly this sum).
[beyond-reference] surface (SURVEY.md §2.2, LLM-pipeline family).

Pattern: VECTORIZED PARTIAL AGGREGATION via ``mapInPandas`` — each
Arrow batch contributes one D×D partial (numpy ``X.T @ X``, a BLAS
matmul), and a 2 080-row groupBy folds the partials. This is the
canonical way to push per-row O(D²) work out of Catalyst expressions
(which would need D² fold columns) while keeping the shuffle payload
CONSTANT-sized: upper-triangle D(D+1)/2 rows per batch regardless of
input rows.

Determinism / oracle exactness: elements are fixed-point ticks
``floor(x * 1000)`` (int64) BEFORE multiplication, so every partial
and the final sum are exact integers — associative and commutative,
immune to partition order and Arrow batch sizing. The DuckDB oracle
reproduces the same integer products relationally.

Scale: one parquet scan, per-batch BLAS, a 2 080-row shuffle.
|tick| ≤ ~10³ for unit-norm-ish embeddings → per-pair |sum| ≤
n·10⁶: int64 holds past 10¹² rows (≈ 250 TB of 64-dim float32);
beyond that, widen the final fold to decimal(38,0) — the partials
stay int64 either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load_spread
from .similarity import DIM, _as_double

TICK = 1000


def _gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    iu = np.triu_indices(DIM)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        t = np.floor(x * TICK).astype(np.int64)
        g = t.T @ t
        yield pd.DataFrame(
            {
                "dim_i": iu[0].astype(np.int32),
                "dim_j": iu[1].astype(np.int32),
                "partial": g[iu],
            }
        )


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        _as_double("embedding").alias("v")
    )
    partials = emb.mapInPandas(
        _gram_partials, "dim_i int, dim_j int, partial long"
    )
    return (
        partials.groupBy("dim_i", "dim_j")
        .agg(F.sum("partial").alias("gram_ticks"))
        .orderBy("dim_i", "dim_j")
    )


_GRAM_SQL = f"""
WITH t AS (
  SELECT list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {TICK}) AS BIGINT)) AS tk
  FROM embeddings
),
idx AS (SELECT range AS i FROM range(1, {DIM + 1}))
SELECT CAST(a.i - 1 AS INTEGER) AS dim_i,
       CAST(b.i - 1 AS INTEGER) AS dim_j,
       CAST(sum(tk[a.i] * tk[b.i]) AS BIGINT) AS gram_ticks
FROM t, idx a, idx b
WHERE a.i <= b.i
GROUP BY a.i, b.i
ORDER BY dim_i, dim_j
"""


QUERIES = ((embedding_gram_matrix, _GRAM_SQL),)
