"""Deterministic k-means (Lloyd's algorithm) — the trainer for the
IVF coarse quantizer (llm/ivf.py currently uses label-group
centroids; this is the unsupervised path).

Determinism contract (full DuckDB oracle despite being iterative):
- init: centroids = the vectors with vec_id 0..K-1 (no RNG);
- fixed iteration count (unrolled in the SQL oracle as CTE rounds);
- per-dimension means ROUNDED to 6 dp after each update step (the
  aggregation-order float drift dies at the round);
- assignment argmin tie-breaks on centroid id;
- distances are ordered folds → bit-identical across engines.

Scale: each iteration is one broadcast (K×DIM centroids ≈ KBs) + one
groupBy(cluster, dim) mean — the standard distributed Lloyd step;
iterations are driver-controlled with checkpointed lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import memo
from ..catalog.fixtures import _local_df
from ..queries.base import load_spread
from .similarity import DIM, _as_double

K = 8
ITERATIONS = 2


def _dist2(v, c):
    """Σ (v_i − c_i)² as an ordered fold (same order as the SQL)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    scored = emb.join(F.broadcast(centroids)).withColumn(
        "d2", _dist2(F.col("v"), F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "v", F.col("cid").alias("cluster"))
    )


# NOTE (r10, measured and REVERTED): an argmin-over-LITERAL-centroids
# projection (least over K (d2, cid) structs, one fold per centroid
# inline) was tried here to remove the K-way broadcast-join blowup and
# the per-vec_id window. Interleaved A/B at local[32], sf0.1: every
# consumer REGRESSED ~2x (kmeans_clusters 0.42->0.83, silhouette
# 0.52->0.89, semdedup 0.86->1.21, ivf_kmeans_search 0.61->0.99) — the
# K inline zip_with/aggregate folds are interpreted (HOFs don't
# codegen) and evaluating all K per row in one projection loses to the
# join form's one-fold-per-row over K-duplicated rows, which keeps the
# fold count identical but lets the join/window machinery run in
# codegen. The broadcast-join + window form stays.


def _update(assigned: DataFrame) -> DataFrame:
    dims = assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
    per_dim = dims.groupBy("cluster", "pos").agg(F.round(F.avg("x"), 6).alias("c"))
    return per_dim.groupBy("cluster").agg(
        F.transform(F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]).alias(
            "centroid"
        )
    ).select(F.col("cluster").alias("cid"), "centroid")


def train_centroids(emb: DataFrame) -> DataFrame:
    """The deterministic-Lloyd training prologue (seeds = vec_id < K,
    ITERATIONS update steps, centroids checkpointed per level): the
    single source of truth for every operator built on the trained
    quantizer — kmeans_clusters, semdedup, ivf_kmeans_search, IVFPQ."""
    centroids = (
        emb.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("centroid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(ITERATIONS):
        centroids = _update(_assign(emb, centroids)).localCheckpoint(eager=True)
    return centroids


def shared_centroids(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """``train_centroids`` trained once per session and corpus — the
    "build the coarse quantizer once, probe it from every consumer"
    lifecycle a production IVF index has. The memo holds the K×DIM
    collected doubles, which round-trip bit-exactly (Python float IS
    the IEEE double Spark computed), so every consumer reads the same
    tiny local relation."""
    rows = memo.shared(
        spark,
        sf_dir,
        "kmeans_centroids",
        lambda: [
            (int(r["cid"]), [float(x) for x in r["centroid"]])
            for r in train_centroids(emb).collect()
        ],
    )
    return _local_df(spark, rows, StructType.fromDDL("cid int, centroid array<double>"))


def sql_training_prologue() -> str:
    """The c0 → a3 CTE chain mirroring ``train_centroids`` plus the
    final ``_assign`` — spliced into every oracle that trains the
    quantizer. Must follow a CTE ``e(vec_id, v)``; exposes
    ``a3(vec_id, v, cluster)``, ``a3_scored(vec_id, v, cid, d2)`` and
    ``c2(cid, centroid)``."""
    return f"""c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS centroid FROM e WHERE vec_id < {K}),
{_sql_assign('c0', 'a1')},
{_sql_update('a1', 'c1')},
{_sql_assign('c1', 'a2')},
{_sql_update('a2', 'c2')},
{_sql_assign('c2', 'a3')}"""


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster sizes + centroid norms after 2 Lloyd iterations."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    centroids = shared_centroids(spark, sf_dir, emb)
    final = _assign(emb, centroids)
    norms = centroids.select(
        "cid",
        F.round(
            F.sqrt(F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, c: a + c * c)), 6
        ).alias("centroid_norm"),
    )
    return (
        final.groupBy(F.col("cluster").alias("cid"))
        .agg(F.count("*").alias("n_vecs"))
        .join(norms, "cid")
        .orderBy("cid")
    )


def _sql_assign(cent_cte: str, name: str) -> str:
    return f"""
{name}_scored AS (
  SELECT e.vec_id, e.v, c.cid,
         list_sum(list_transform(range(1, {DIM + 1}),
                  i -> (e.v[i] - c.centroid[i]) * (e.v[i] - c.centroid[i]))) AS d2
  FROM e CROSS JOIN {cent_cte} c
),
{name} AS (
  SELECT vec_id, v, cid AS cluster
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM {name}_scored)
  WHERE rk = 1
)"""


def _sql_update(assign_cte: str, name: str) -> str:
    return f"""
{name}_dims AS (
  SELECT cluster, g.i AS pos, v[g.i] AS x
  FROM {assign_cte}, unnest(range(1, {DIM + 1})) AS g(i)
),
{name}_per_dim AS (
  SELECT cluster, pos, round(avg(x), 6) AS c FROM {name}_dims GROUP BY 1, 2
),
{name} AS (
  SELECT cluster AS cid, list(c ORDER BY pos) AS centroid
  FROM {name}_per_dim GROUP BY cluster
)"""


_KMEANS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{sql_training_prologue()}
SELECT a3.cluster AS cid, count(*) AS n_vecs,
       round(sqrt(list_sum(list_transform(c2.centroid, x -> x * x))), 6) AS centroid_norm
FROM a3 JOIN c2 ON c2.cid = a3.cluster
GROUP BY a3.cluster, c2.centroid
ORDER BY cid
"""


BOUNDARY_PERMILLE = 100


def kmeans_silhouette_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette QA of the trained quantizer — the
    clustering-quality gate a curation pipeline runs before trusting
    cluster-level decisions ([[semdedup_embedding_clusters]],
    [[d4_prototype_prune]]): per cluster, how cleanly its members
    prefer their own centroid over the runner-up.

    Per point: a = distance to the assigned (nearest) centroid, b =
    distance to the second-nearest; s = (b−a)/max(a,b) — in [0, 1]
    by construction since assignment IS the argmin (simplified
    silhouette; full silhouette's pairwise a would be O(n²)).  The
    per-point score is floored to int per-mille BEFORE aggregation,
    so per-cluster sums are exact integers — no order-dependent
    float accumulation (same contract as the gram/centroid kernels).

    Scale: scoring reuses the one broadcast(K×D centroids) + n×K
    scored relation every Lloyd step already pays; the per-point
    top-2 is a bounded window over K rows.  ``n_boundary`` counts
    points within 100 per-mille of indifference — the mislabel-risk
    mass on the cluster frontier."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    centroids = shared_centroids(spark, sf_dir, emb)
    scored = emb.join(F.broadcast(centroids)).withColumn(
        "d2", _dist2(F.col("v"), F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    per_vec = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("cid"))).alias("cluster"),
            F.min(F.when(F.col("rk") == 1, F.sqrt("d2"))).alias("a"),
            F.min(F.when(F.col("rk") == 2, F.sqrt("d2"))).alias("b"),
        )
    )
    sil = per_vec.withColumn(
        "s",
        F.when(F.greatest("a", "b") == 0, F.lit(0).cast("bigint")).otherwise(
            F.floor(F.lit(1000) * (F.col("b") - F.col("a")) / F.greatest("a", "b")).cast(
                "bigint"
            )
        ),
    )
    return (
        sil.groupBy(F.col("cluster").alias("cid"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr("sum(s) div count(1)").alias("mean_sil_permille"),
            F.min("s").alias("min_sil_permille"),
            F.sum((F.col("s") < BOUNDARY_PERMILLE).cast("bigint")).alias("n_boundary"),
        )
        .orderBy("cid")
    )


_SILHOUETTE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{sql_training_prologue()},
ranked AS (
  SELECT vec_id, cid, sqrt(d2) AS d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
  FROM a3_scored
),
per_vec AS (
  SELECT vec_id,
         min(CASE WHEN rk = 1 THEN cid END) AS cluster,
         min(CASE WHEN rk = 1 THEN d END) AS a,
         min(CASE WHEN rk = 2 THEN d END) AS b
  FROM ranked WHERE rk <= 2 GROUP BY 1
),
sil AS (
  SELECT cluster,
         CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(1000 * (b - a) / greatest(a, b)) AS BIGINT) END AS s
  FROM per_vec
)
SELECT cluster AS cid, count(*) AS n_vecs,
       (CAST(sum(s) AS BIGINT) // count(*)) AS mean_sil_permille,
       CAST(min(s) AS BIGINT) AS min_sil_permille,
       CAST(count_if(s < {BOUNDARY_PERMILLE}) AS BIGINT) AS n_boundary
FROM sil
GROUP BY cluster
ORDER BY cid
"""


QUERIES = (
    (kmeans_clusters, _KMEANS_SQL),
    (kmeans_silhouette_report, _SILHOUETTE_SQL),
)
