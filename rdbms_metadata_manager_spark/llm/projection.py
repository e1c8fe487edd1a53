"""Johnson–Lindenstrauss random projection 64 → 16 dims — the cheap
dimensionality reduction a curation pipeline runs before clustering /
ANN when full-width vectors are too expensive to shuffle (4× smaller
embeddings, pairwise distances preserved within JL distortion).
[beyond-reference] surface (SURVEY.md §2.2, LLM-pipeline family).

Projection matrix: md5-derived integer weights w[p,d] = h32(p||','||d)
mod 1001 − 500 — the same reproducible-pseudo-random construction as
the LSH hyperplanes (similarity.py), so the DuckDB oracle rebuilds
the identical matrix; element ticks floor(x·1000) make every
projection an exact int64 sum (no float accumulation order anywhere).

Plan shape: the relational dot product — posexplode the vector,
broadcast-join the 1 024-row plane table on the dimension key, one
partial-agged groupBy (vec_id, plane). Everything whole-stage
codegen; the interpreted-HOF fold alternative measured ~10× slower
on this box for pairwise work (BENCH_NOTES), and a Pandas-UDF matmul
(the gram.py pattern) is the escape hatch if P·D grows to real
matrix sizes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load, load_spread
from .hashing import h32, h32_sql

N_PROJ = 16
PROJ_DIM = 64
TICK = 1000


def _plane_table(spark: SparkSession) -> DataFrame:
    ids = spark.range(N_PROJ * PROJ_DIM)
    seed = F.concat(
        (F.col("id") / PROJ_DIM).cast("long").cast("string"),
        F.lit(","),
        (F.col("id") % PROJ_DIM).cast("string"),
    )
    return ids.select(
        (F.col("id") / PROJ_DIM).cast("long").alias("plane"),
        (F.col("id") % PROJ_DIM).alias("d"),
        (h32(seed) % 1001 - 500).cast("long").alias("wt"),
    )


# NOTE (r10, measured and REVERTED): an Arrow mapInPandas int64-matmul
# kernel (ticks @ W.T, the gram.py shape) was tried here to replace the
# 16x posexplode+broadcast-join row blowup. Interleaved A/B at
# local[32], sf0.1: 0.67 -> 0.84 s (1.25x) — the relational form's
# blowup runs entirely inside one whole-stage-codegen pipeline with
# map-side partial aggregation (the exchange carries only |vecs|x16
# partial sums), while the kernel pays the full JVM->Arrow->Python
# round trip of the corpus. Consistent with the module docstring's
# earlier measurement; the escape hatch only pays once P*D grows to
# real matrix sizes.
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").alias("v")
    )
    elems = emb.select(
        "vec_id", F.posexplode(F.col("v")).alias("d", "x")
    ).select(
        "vec_id",
        "d",
        F.floor(F.col("x").cast("double") * TICK).cast("long").alias("xt"),
    )
    return (
        elems.join(F.broadcast(_plane_table(spark)), "d")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("xt") * F.col("wt")).alias("proj_ticks"))
        .orderBy("vec_id", "plane")
    )


_PROJ_SQL = f"""
WITH planes AS (
  SELECT i // {PROJ_DIM} AS plane, i % {PROJ_DIM} AS d,
         CAST({h32_sql(f"(i // {PROJ_DIM})::VARCHAR || ',' || (i % {PROJ_DIM})::VARCHAR")} % 1001 - 500 AS BIGINT) AS wt
  FROM (SELECT range AS i FROM range(0, {N_PROJ * PROJ_DIM}))
),
elems AS (
  SELECT vec_id, d - 1 AS d,
         CAST(floor(embedding[d]::DOUBLE * {TICK}) AS BIGINT) AS xt
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(d)
)
SELECT vec_id, plane, CAST(sum(xt * wt) AS BIGINT) AS proj_ticks
FROM elems JOIN planes USING (d)
GROUP BY vec_id, plane
ORDER BY vec_id, plane
"""


def _dim_stats_kernel(table):
    """Whole-group Arrow kernel: one numpy sort per dimension.
    percentile_disc(q) = smallest value with CDF ≥ q, i.e. sorted
    index ceil(q·n) − 1 — reproduced exactly so the DuckDB oracle
    hash-matches."""
    import numpy as np
    import pyarrow as pa

    t = np.sort(table.column("t").to_numpy(zero_copy_only=False))
    n = len(t)
    med = int(t[(n + 1) // 2 - 1])
    ad = np.sort(np.abs(t - med))
    mad = int(ad[(n + 1) // 2 - 1])
    n_out = int((ad > 5 * mad).sum()) if mad > 0 else 0
    dim = int(table.column("dim")[0].as_py())
    return pa.table(
        {
            "dim": pa.array([dim], pa.int32()),
            "n_vals": pa.array([n], pa.int64()),
            "med_tick": pa.array([med], pa.int64()),
            "mad_tick": pa.array([mad], pa.int64()),
            "n_outliers": pa.array([n_out], pa.int64()),
            "is_dead": pa.array([mad == 0], pa.bool_()),
        }
    )


def embedding_dim_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health report: exact median, MAD,
    5×MAD outlier count, and a dead-dimension flag (MAD = 0) over
    integer ticks — the robust-statistics QA an embedding pipeline
    runs to catch collapsed, saturated, or exploding dimensions
    before they poison downstream ANN/clustering.

    Plan: ONE codegen posexplode scan → one exchange of compact
    (dim:int, tick:int64) rows on the 64-value key → a grouped-map
    `applyInArrow` kernel (whole group as an arrow Table, one numpy
    sort each). The all-relational percentile_disc form measured
    3.6 s at sf0.1 (three scans, interpreted SortAggregates over the
    1.6 M-row exploded relation); this shape is one shuffle and
    vectorized math. Per-group rows = corpus size — for billions of
    vectors switch the kernel to streaming batches with a two-pass
    histogram median; the 64-way key fan-out stays the same. Plain
    ``load`` (not ``load_spread``): the pre-kernel work is one
    trivial explode projection, and the dim exchange redistributes
    anyway — a vec_id repartition would just be a second shuffle
    (plan-pinned to exactly one)."""
    emb = load(spark, sf_dir, "embeddings")
    elems = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.floor(F.col("x").cast("double") * TICK).cast("long").alias("t")
    )
    return (
        elems.groupBy("dim")
        .applyInArrow(
            _dim_stats_kernel,
            "dim int, n_vals long, med_tick long, mad_tick long, "
            "n_outliers long, is_dead boolean",
        )
        .orderBy("dim")
    )


_DIM_STATS_SQL = f"""
WITH elems AS (
  SELECT d - 1 AS dim,
         CAST(floor(embedding[d]::DOUBLE * {TICK}) AS BIGINT) AS t
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(d)
),
med AS (
  SELECT dim, percentile_disc(0.5) WITHIN GROUP (ORDER BY t) AS med_tick
  FROM elems GROUP BY dim
),
mad AS (
  SELECT e.dim,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(e.t - m.med_tick)) AS mad_tick
  FROM elems e JOIN med m USING (dim)
  GROUP BY e.dim
)
SELECT e.dim,
       count(*) AS n_vals,
       m.med_tick,
       d.mad_tick,
       CAST(count(*) FILTER (
         WHERE d.mad_tick > 0 AND abs(e.t - m.med_tick) > 5 * d.mad_tick
       ) AS BIGINT) AS n_outliers,
       d.mad_tick = 0 AS is_dead
FROM elems e JOIN med m USING (dim) JOIN mad d USING (dim)
GROUP BY e.dim, m.med_tick, d.mad_tick
ORDER BY e.dim
"""


MAX_MAD_BAND = 5


def embedding_norm_outlier_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-vector norm health: histogram of |‖v‖² − median| in
    median-absolute-deviation bands — the cheap full-corpus screen
    for broken embeddings (zero vectors, un-normalized batches, a
    model half misconfigured mid-backfill) that per-dimension stats
    ([[embedding_dim_robust_stats]]) dilute across 64 columns.

    Exactness: ‖v‖² is an ORDERED left fold over double-cast
    elements (both engines fold the array in index order → identical
    doubles); median and MAD are ``percentile_disc`` — actual data
    values, no interpolated arithmetic; the band index is one float
    division on identical operands. Plan: one map-side fold per row,
    two tiny order-statistics aggregates, one 6-group rollup — the
    broadcast of (med, mad) is 1 row. MAD = 0 (perfectly uniform
    norms) puts every vector in band 0 rather than dividing by zero."""
    from .similarity import _as_double

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # Materialize the (vec_id, norm2) and deviation relations: the
    # median/MAD branches would otherwise each re-plan the fold over
    # the raw vectors (3 scans of the corpus for a 16-byte/row
    # intermediate). On a cluster these are the tiny side tables of
    # the two order-statistics jobs.
    norms = emb.select(
        "vec_id",
        F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x).alias("norm2"),
    ).localCheckpoint(eager=True)
    stats = norms.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY norm2)").alias("med")
    )
    devs = (
        norms.crossJoin(F.broadcast(stats))
        .select("vec_id", "norm2", F.abs(F.col("norm2") - F.col("med")).alias("adev"))
        .localCheckpoint(eager=True)
    )
    mad = devs.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    band = F.expr(
        f"CASE WHEN mad = 0.0 THEN 0 "
        f"ELSE least(cast(floor(adev / mad) AS BIGINT), {MAX_MAD_BAND}) END"
    )
    return (
        devs.crossJoin(F.broadcast(mad))
        .select(band.alias("mad_band"), "vec_id")
        .groupBy("mad_band")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("mad_band")
    )


_NORM_BANDS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
norms AS (
  SELECT vec_id,
         list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS norm2
  FROM e
),
med AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY norm2) AS med FROM norms),
devs AS (SELECT vec_id, abs(norm2 - med) AS adev FROM norms, med),
mad AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad FROM devs)
SELECT CASE WHEN mad = 0.0 THEN 0
            ELSE least(floor(adev / mad)::BIGINT, {MAX_MAD_BAND}) END AS mad_band,
       count(*) AS n_vecs
FROM devs, mad
GROUP BY 1
ORDER BY mad_band
"""


MAT_QUERIES = 8  # vec_id < MAT_QUERIES form the query batch
MAT_K = 10
MAT_DIMS = (8, 16, 32)  # audited truncation prefixes (full = PROJ_DIM)


def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: recall@K of PREFIX-dim cosine
    top-K against full-dim top-K, per (query, prefix). The go/no-go
    report before serving truncated embeddings (the MRL deployment
    question: "can I keep 8 of 64 dims and still retrieve the same
    neighbours?") — the retrieval-quality sibling of
    [[embedding_quantization_error]]'s reconstruction view.

    Exactness: elements are fixed-point ticks floor(x·1000) (int64,
    the [[embedding_gram_matrix]] pattern), so every prefix dot and
    norm is an EXACT integer sum — commutative, batch-order immune —
    and the ranking cosine dot/√(vn·qn) is one IEEE expression
    (int64→double conversion exact below 2⁵³, sqrt and divide
    correctly rounded) over identical integers in numpy and DuckDB:
    the top-K SETS are bit-deterministic, no float-accumulation rank
    hazard.

    Plan: the query batch ticks are a driver-side constant (8×64
    int64 — the collected-centroids pattern of [[kmeans_clusters]]),
    and the corpus-side prefix dots/norms are ONE Arrow
    ``mapInPandas`` pass doing four integer matmuls per batch — the
    [[embedding_gram_matrix]] kernel shape. The relational
    posexplode + broadcast-join + 12-conditional-sum alternative
    measured 1.66 s vs 0.9 s for this form at sf0.1 (BENCH_NOTES):
    per-row O(Q·D) arithmetic is exactly the heavy-kernel class the
    repo routes to Arrow. Then a (query, dim)-windowed top-K and one
    overlap join over the checkpointed K-row-per-(query,dim) picks.
    At 100 TB the corpus streams through the kernel once; shuffle
    volume is |queries|·|corpus|·|dims| scored rows, not vectors."""
    import numpy as np
    from pyspark.sql import Window

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id")
    qrows = emb.filter(F.col("vec_id") < MAT_QUERIES).select(
        "vec_id", "embedding"
    ).collect()
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qt = (
        np.floor(
            np.array([list(r.embedding) for r in qrows], dtype=np.float64) * TICK
        ).astype(np.int64)
        if qrows
        else np.zeros((0, PROJ_DIM), dtype=np.int64)
    )
    all_dims = list(MAT_DIMS) + [PROJ_DIM]
    qn = {d: (qt[:, :d] * qt[:, :d]).sum(axis=1) for d in all_dims}

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.floor(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
                * TICK
            ).astype(np.int64)
            vec_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = []
            for d in all_dims:
                xd = x[:, :d]
                dot = xd @ qt[:, :d].T  # (n, Q) exact int64
                vn = (xd * xd).sum(axis=1)  # (n,)
                prod = vn[:, None] * qn[d][None, :]  # (n, Q) int64, < 2^53
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot.astype(np.float64) / np.sqrt(prod.astype(np.float64))
                cos = np.where(prod == 0, -2.0, cos)
                # PARTIAL top-K inside the batch: the global top-K per
                # (query, dim) is the top-K of the union of per-batch
                # top-Ks (same (cos desc, vec_id asc) order), so only
                # K·Q rows per dim leave each Arrow batch instead of
                # n·Q — at 10⁹ corpus rows this is the difference
                # between shuffling 5·Q·10⁹ scored rows and K·Q·#batches.
                n, qn_count = cos.shape
                k = min(MAT_K, n)
                # lexsort: primary cos desc, secondary vec_id asc
                order = np.lexsort((vec_ids[:, None].repeat(qn_count, 1).T, -cos.T))
                sel = order[:, :k]  # (Q, k) row indices per query
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(qids, k),
                            "vec_id": vec_ids[sel].ravel(),
                            "dim": np.int64(d),
                            "cos": np.take_along_axis(cos.T, sel, axis=1).ravel(),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = emb.filter(F.col("vec_id") >= MAT_QUERIES).mapInPandas(
        _score, "query_id long, vec_id long, dim long, cos double"
    )
    w = Window.partitionBy("query_id", "dim").orderBy(F.col("cos").desc(), "vec_id")
    # materialize once (LAZY): both sides of the overlap join read
    # picks (|queries|·|dims|·K rows) — without this barrier the Arrow
    # scoring pass is planned twice; lazy fuses the materialization
    # into the consuming job instead of paying a separate build-time
    # action (guide §1.2 — the r9 eager→lazy doctrine).
    picks = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MAT_K)
        .select("query_id", "vec_id", "dim")
        .localCheckpoint(eager=False)
    )
    full = picks.filter(F.col("dim") == PROJ_DIM).select("query_id", "vec_id")
    hits = (
        picks.filter(F.col("dim") != PROJ_DIM)
        .join(full, ["query_id", "vec_id"])
        .groupBy("query_id", "dim")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    spine = (
        emb.filter(F.col("vec_id") < MAT_QUERIES)
        .select(F.col("vec_id").alias("query_id"))
        .select(
            "query_id",
            F.explode(F.array([F.lit(d) for d in MAT_DIMS])).alias("dim"),
        )
    )
    return (
        spine.join(F.broadcast(hits), ["query_id", "dim"], "left")
        .withColumn("hits", F.coalesce(F.col("h"), F.lit(0)).cast("long"))
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("dim").cast("long").alias("dim"),
            "hits",
            F.expr(f"CAST((hits * 1000) DIV {MAT_K} AS BIGINT)").alias(
                "recall_permille"
            ),
        )
        .orderBy("query_id", "dim")
    )


def _mat_oracle() -> str:
    all_dims = list(MAT_DIMS) + [PROJ_DIM]
    pair_cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN pos <= {d} THEN qt * t ELSE 0 END) AS BIGINT) AS dot{d},\n"
        f"    CAST(sum(CASE WHEN pos <= {d} THEN t * t ELSE 0 END) AS BIGINT) AS vn{d},\n"
        f"    CAST(sum(CASE WHEN pos <= {d} THEN qt * qt ELSE 0 END) AS BIGINT) AS qn{d}"
        for d in all_dims
    )
    scored = "\n  UNION ALL\n".join(
        f"  SELECT query_id, vec_id, {d} AS dim,\n"
        f"         CASE WHEN vn{d} * qn{d} = 0 THEN -2.0\n"
        f"              ELSE CAST(dot{d} AS DOUBLE) / sqrt(CAST(vn{d} * qn{d} AS DOUBLE)) END AS cos\n"
        f"  FROM pair"
        for d in all_dims
    )
    dims_values = ", ".join(f"({d})" for d in MAT_DIMS)
    return f"""
WITH tk AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {TICK}) AS BIGINT) AS t
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, pos, t AS qt FROM tk WHERE vec_id < {MAT_QUERIES}),
pool AS (SELECT vec_id, pos, t FROM tk WHERE vec_id >= {MAT_QUERIES}),
pair AS (
  SELECT query_id, vec_id,
    {pair_cols}
  FROM pool JOIN q USING (pos)
  GROUP BY 1, 2
),
scored AS (
{scored}
),
picks AS (
  SELECT query_id, vec_id, dim,
         row_number() OVER (PARTITION BY query_id, dim ORDER BY cos DESC, vec_id) AS rk
  FROM scored QUALIFY rk <= {MAT_K}
),
fullk AS (SELECT query_id, vec_id FROM picks WHERE dim = {PROJ_DIM}),
hits AS (
  SELECT p.query_id, p.dim, count(*) AS h
  FROM picks p JOIN fullk f USING (query_id, vec_id)
  WHERE p.dim != {PROJ_DIM}
  GROUP BY 1, 2
),
spine AS (
  SELECT DISTINCT query_id, d.dim FROM q, (VALUES {dims_values}) AS d(dim)
)
SELECT query_id::BIGINT AS query_id, dim::BIGINT AS dim,
       CAST(coalesce(h, 0) AS BIGINT) AS hits,
       CAST((coalesce(h, 0) * 1000) // {MAT_K} AS BIGINT) AS recall_permille
FROM spine LEFT JOIN hits USING (query_id, dim)
ORDER BY query_id, dim
"""


QUERIES = (
    (embedding_random_projection, _PROJ_SQL),
    (embedding_dim_robust_stats, _DIM_STATS_SQL),
    (embedding_norm_outlier_bands, _NORM_BANDS_SQL),
    (matryoshka_truncation_recall, _mat_oracle()),
)
