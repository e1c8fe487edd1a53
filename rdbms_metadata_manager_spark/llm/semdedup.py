"""SemDeDup — semantic deduplication via embedding clusters.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): k-means the
embedding space, then compare pairs ONLY within a cluster and drop
all but one member of every semantic-duplicate group. Clustering is
what makes the pairwise step tractable — at 100 TB the quadratic
cost is bounded per cluster (cap cluster size / split hot cells),
and the pair join shuffles on the cluster id alone.

Composition here: the deterministic Lloyd trainer from ``kmeans``
(fixed seeds, fixed iterations, 6-dp rounded centroids — the full
oracle-determinism contract) feeds a within-cluster self-join
verified with exact cosine. The final assignment is
``localCheckpoint``-ed before the self-join: the HOF-heavy
assignment lineage is cut, so both join sides share one computed
plan instead of recomputing two Lloyd runs (and the shared-lambda
self-join trap in dedup_embedding_cosine's docstring can't bite).

Keep policy: the lowest vec_id in every duplicate relation survives
(reference keep-first semantics; the paper keeps the point with the
lowest centroid similarity — id-based keeps the oracle exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load, load_spread
from .kmeans import _assign, shared_centroids, sql_training_prologue
from .similarity import DIM, _as_double, _cosine, _cosine_sql

SEMDEDUP_COSINE = 0.4


def semdedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs dropped by SemDeDup: for each, the cluster it sat in, the
    surviving lower-id partner it duplicates, and how many kept-side
    partners flagged it."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    assigned = _assign(emb, shared_centroids(spark, sf_dir, emb)).localCheckpoint(eager=True)

    # Within-cluster pairwise cosine, two-stage: stage 1 PREFILTERS
    # with an ε margin, stage 2 re-checks survivors (a few hundred)
    # with the ordered-fold cosine, keeping the ≥ τ cut bit-identical
    # to the SQL oracle. The prefilter is a per-cluster Arrow matmul
    # (``applyInPandas``: one n_c×64 block → X·Xᵀ → emit only the
    # above-margin (aid, bid) pairs) — the gram.py heavy-kernel
    # route: a zip_with/aggregate cosine on a pair join runs the
    # lambda INTERPRETED (~16 s at sf0.1; ROADMAP HOF-vs-Arrow note),
    # and the earlier relational posexplode/(cluster,pos)-join form,
    # while codegen, shuffled Σ n_c² product rows (measured 3.5 s vs
    # ~1.5 s for this kernel). Only the ε-margin CANDIDATES leave the
    # kernel, so stage 1's float-sum nondeterminism never reaches the
    # output. At 100 TB the per-cluster block is the bounded unit:
    # pair volume is Σ n_c², controlled by the cluster count / a cap
    # on cluster size; one shuffle on cluster id, blocks never
    # cross-join.
    import pandas as pd

    margin = SEMDEDUP_COSINE - 1e-6

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"aid": [], "bid": [], "cluster": []}).astype(
            {"aid": "int64", "bid": "int64", "cluster": "int64"}
        )
        # NULL/ragged vectors can never pair (the oracle's indexed
        # cosine goes NULL and drops them); filter BEFORE np.stack,
        # which would otherwise raise on them and crash the query
        ok = pdf["v"].map(lambda v: v is not None and len(v) == DIM)
        pdf = pdf[ok]
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        x = np.stack([np.asarray(v, dtype="float64") for v in pdf["v"]])
        norms = np.sqrt((x * x).sum(axis=1))
        norms[norms == 0.0] = np.inf  # zero vectors can never pass the margin
        cos = (x @ x.T) / norms[:, None] / norms[None, :]
        ia, ib = np.where(cos >= margin)
        keep = ids[ia] < ids[ib]  # also drops the diagonal and dedups (i,j)/(j,i)
        return pd.DataFrame(
            {
                "aid": ids[ia][keep],
                "bid": ids[ib][keep],
                "cluster": np.full(int(keep.sum()), pdf["cluster"].iat[0], dtype="int64"),
            }
        )

    cand = assigned.groupBy("cluster").applyInPandas(
        _block_pairs, "aid long, bid long, cluster long"
    )
    # Verify joins: the corpus-sized vector relation is the PROBE
    # side; the candidate set (ε-prefilter survivors, a few hundred
    # rows) is what gets broadcast — first bare, then carrying the
    # a-side vector it just picked up. At 100 TB the embeddings
    # relation is never on a build side.
    va = assigned.select(F.col("vec_id").alias("aid"), F.col("v").alias("va"))
    vb = assigned.select(F.col("vec_id").alias("bid"), F.col("v").alias("vb"))
    cand_a = va.join(F.broadcast(cand), "aid")
    verified = vb.join(F.broadcast(cand_a), "bid").filter(
        _cosine(F.col("va"), F.col("vb")) >= SEMDEDUP_COSINE
    )
    return (
        verified.groupBy(F.col("bid").alias("drop_vec"), F.col("cluster").alias("cluster"))
        .agg(F.min("aid").alias("keep_vec"), F.count("*").alias("n_dup_partners"))
        .orderBy("drop_vec")
    )


_SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{sql_training_prologue()},
pairs AS (
  SELECT a.vec_id AS keep_cand, b.vec_id AS drop_vec, b.cluster AS cluster
  FROM a3 a JOIN a3 b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_cosine_sql("a.v", "b.v")} >= {SEMDEDUP_COSINE}
)
SELECT drop_vec, cluster, min(keep_cand) AS keep_vec,
       count(*) AS n_dup_partners
FROM pairs
GROUP BY drop_vec, cluster
ORDER BY drop_vec
"""


PRUNE_DENOM = 5  # keep the 1/5 most-prototypical cut integer-exact


def d4_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style prototypicality pruning (Tirumala et al. 2023,
    "D4: Improving LLM Pretraining via Document De-Duplication and
    Diversification"): after SemDeDup, the most PROTOTYPICAL points
    of each cluster — the ones closest to their centroid — carry the
    least marginal information, so the closest 20% per cluster are
    flagged for pruning.

    Reuses the shared deterministic-Lloyd prologue; each vector then
    needs ONE distance — to its own centroid — which the ordered-fold
    ``_dist2`` keeps bit-identical to the SQL oracle (same fold the
    trainer's assignment step already pays K times per vector, so
    this is strictly cheaper than one Lloyd pass). The 20% cut is
    ``5*rank <= n`` — pure integer comparison, no float fraction to
    drift between engines; ranking ties break on vec_id.

    Scale: one broadcast of K centroids + one window partitioned by
    cluster — the same shuffle the assignment already produced; no
    pairwise work at all (the quadratic step stays in SemDeDup)."""
    from pyspark.sql import Window
    from .kmeans import _dist2

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # single consumer of `assigned` → no eager checkpoint needed
    centroids = shared_centroids(spark, sf_dir, emb)
    assigned = _assign(emb, centroids)
    scored = (
        assigned.join(F.broadcast(centroids), assigned["cluster"] == centroids["cid"])
        .withColumn("d2", _dist2(F.col("v"), F.col("centroid")))
        .select("vec_id", "cluster", "d2")
    )
    w = Window.partitionBy("cluster").orderBy("d2", "vec_id")
    wn = Window.partitionBy("cluster")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .select(
            "vec_id",
            "cluster",
            F.round("d2", 6).alias("dist2"),
            (F.col("rk") * PRUNE_DENOM <= F.col("n")).alias("pruned"),
        )
        .orderBy("vec_id")
    )


_D4_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{sql_training_prologue()},
scored AS (
  SELECT a3.vec_id, a3.cluster,
         list_sum(list_transform(range(1, {DIM + 1}),
                  i -> (a3.v[i] - c2.centroid[i]) * (a3.v[i] - c2.centroid[i]))) AS d2
  FROM a3 JOIN c2 ON c2.cid = a3.cluster
)
SELECT vec_id, cluster, round(d2, 6) AS dist2, (rk * {PRUNE_DENOM} <= n) AS pruned
FROM (SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS rk,
             count(*) OVER (PARTITION BY cluster) AS n
      FROM scored)
ORDER BY vec_id
"""


CROSSMODAL_COSINE = 0.4


def crossmodal_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-vs-semantic agreement audit: every NEAR-DUP TEXT pair
    (exact n-gram Jaccard detector) scored with its embedding cosine
    (doc_id ↔ vec_id is the corpus's 1:1 correspondence). Pairs where
    the two signals disagree — verbatim-ish text but low cosine —
    are exactly the pairs a semantic-dedup pass would MISS and a
    lexical pass catches (or, inverted, where the embedding model is
    broken for that slice); this is the QA join run before trusting
    SemDeDup-style pruning on a new embedding model.

    Scale: the pair list is tiny relative to the corpus (near-dup
    density), so the two id-keyed hash joins against ``embeddings``
    ship |pairs| probe rows; the cosine is the same bit-pinned
    element-order fold every similarity operator uses."""
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    ea = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_a"), _as_double("embedding").alias("va")
    )
    eb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_b"), _as_double("embedding").alias("vb")
    )
    return (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _cosine(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .withColumn("semantic_agree", F.col("cosine") >= CROSSMODAL_COSINE)
        .orderBy("doc_a", "doc_b")
    )


def _crossmodal_sql() -> str:
    from .dedup import _JACCARD_SQL

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT doc_a, doc_b FROM ({_JACCARD_SQL}))
SELECT p.doc_a, p.doc_b,
       {_cosine_sql("a.v", "b.v")} AS cosine,
       {_cosine_sql("a.v", "b.v")} >= {CROSSMODAL_COSINE} AS semantic_agree
FROM p JOIN e a ON a.vec_id = p.doc_a JOIN e b ON b.vec_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


QUERIES = (
    (semdedup_embedding_clusters, _SEMDEDUP_SQL),
    (d4_prototype_prune, _D4_SQL),
    (crossmodal_dup_audit, _crossmodal_sql()),
)
