"""IVF (inverted-file) approximate nearest-neighbour search.

The scale path for similarity search beyond LSH: partition vectors
into cells around centroids (coarse quantizer), then search only the
query's nearest ``nprobe`` cells. At 100 TB the cell assignment is a
write-time partitioning key, so a query touches nprobe/k of the data.

Determinism contract (for the DuckDB oracle):
- centroid components are per-dimension averages ROUNDED to 6 dp
  (aggregation order differs across engines in the last ulp);
- centroids are carried as position-ordered ARRAYS and every dot
  product is an ordered fold → bit-identical scores;
- argmax ties break on label order.

Here the quarantizer uses the label groups as training clusters (a
k-means run would be the production trainer; the search machinery is
identical). Assignment is by nearest centroid, NOT by label — vectors
can land in another label's cell, as in real IVF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import memo
from ..catalog.fixtures import _local_df
from ..queries.base import load_spread
from .similarity import DIM, _as_double, _cosine, _cosine_sql, _dot

NPROBE = 2
TOP_K = 5


def _centroid_arrays(emb: DataFrame) -> DataFrame:
    """label → position-ordered centroid array (components rounded
    to 6 dp for cross-engine determinism)."""
    dims = emb.select("label", F.posexplode("v").alias("pos", "x"))
    per_dim = dims.groupBy("label", "pos").agg(F.round(F.avg("x"), 6).alias("c"))
    return per_dim.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    ).select(F.col("label").alias("c_label"), "centroid")


# Label-centroid memo — the same "train the quantizer once, probe it
# from every consumer" lifecycle as kmeans.shared_centroids (≤|labels|
# rows of DIM doubles; the 6-dp rounding already pins the values
# cross-engine, and collected Python floats ARE the IEEE doubles Spark
# computed, so a memo hit changes nothing downstream). Three query
# paths (similarity_ivf_search, ivf_cell_stats,
# ivf_nprobe_recall_curve) each re-ran the full posexplode centroid
# pass per cycle before this.
def _centroids(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """The memoized label centroids as the tiny (c_label, centroid)
    relation; an empty corpus leaves no rows to rebuild from, so it
    falls back to the (empty) rollup itself."""
    rows = memo.shared(
        spark,
        sf_dir,
        "ivf_label_centroids",
        lambda: sorted(
            (int(r["c_label"]), [float(x) for x in r["centroid"]])
            for r in _centroid_arrays(emb).collect()
        ),
    )
    if not rows:
        return _centroid_arrays(emb).localCheckpoint(eager=False)
    return _local_df(spark, rows, StructType.fromDDL("c_label int, centroid array<double>"))


def _assignments(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """vec → nearest-centroid cell via ordered-fold dot products."""
    scored = emb.join(F.broadcast(centroids)).withColumn(
        "score", _dot(F.col("v"), F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), "c_label")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "v", F.col("c_label").alias("cell"))
    )


# NOTE (r10): an argmax-over-LITERAL-centroids projection was tried
# here alongside the memo; the kmeans/pq twins of that form measured
# ~2x regressions (inline HOF folds are interpreted and defeat codegen
# — see kmeans.py note), so assignment stays the broadcast-join +
# window form and the memo alone removes the per-cycle centroid
# rollup pass.


def similarity_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    # memoized label centroids: corpus assignment and q_cells both
    # read the ≤|labels|-row relation rebuilt from the collected rows,
    # so no cycle re-runs the centroid pass.
    centroids = _centroids(spark, sf_dir, emb)
    assigned = _assignments(emb, centroids)

    # Query vector read via a vec_id-pushdown scan — `v` passes through
    # the assignment window unchanged, so filtering `assigned` paid the
    # whole corpus-wide scoring chain a second time just to fetch it.
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    q_cells = (
        emb.filter(F.col("vec_id") == 0)
        .join(F.broadcast(centroids))
        .withColumn("score", _dot(F.col("v"), F.col("centroid")))
        .orderBy(F.col("score").desc(), "c_label")
        .limit(NPROBE)
        .select(F.col("c_label").alias("cell"))
    )
    return (
        assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "cell", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


_CENTROID_CTE = """
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT label, g.i AS pos, v[g.i] AS x
  FROM e, unnest(range(1, {dim1})) AS g(i)
),
per_dim AS (SELECT label, pos, round(avg(x), 6) AS c FROM dims GROUP BY 1, 2),
centroids AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM per_dim GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.v, c.label,
         list_sum(list_transform(range(1, {dim1}), i -> e.v[i] * c.centroid[i])) AS score
  FROM e CROSS JOIN centroids c
),
assigned AS (
  SELECT vec_id, v, label AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY score DESC, label) AS rk
        FROM scored)
  WHERE rk = 1
)
""".format(dim1=DIM + 1)

_IVF_SQL = f"""
WITH {_CENTROID_CTE},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
q_cells AS (
  SELECT label AS cell FROM scored WHERE vec_id = 0
  ORDER BY score DESC, label LIMIT {NPROBE}
)
SELECT a.vec_id, a.cell, {_cosine_sql("a.v", "q.qv")} AS cosine
FROM assigned a JOIN q_cells USING (cell) CROSS JOIN q
WHERE a.vec_id != 0
ORDER BY cosine DESC, a.vec_id
LIMIT {TOP_K}
"""


def ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell occupancy — the balance diagnostic you watch before
    trusting an IVF index (empty/giant cells mean a bad quantizer)."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    assigned = _assignments(emb, _centroids(spark, sf_dir, emb))
    return (
        assigned.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("cell")
    )


_IVF_STATS_SQL = f"""
WITH {_CENTROID_CTE}
SELECT cell, count(*) AS n_vectors
FROM assigned
GROUP BY cell
ORDER BY cell
"""


def ivf_kmeans_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the Lloyd-TRAINED coarse quantizer (the
    production path this module's header promises; the label-group
    variant above is the supervised shortcut). Cells are the
    deterministic k-means clusters (kmeans.py contract: fixed seeds,
    2 iterations, 6-dp rounded centroids); the query probes its
    ``NPROBE`` nearest cells by the SAME metric the quantizer assigns
    with (L2), then ranks candidates by exact ordered-fold cosine.
    At 100 TB the cluster id is the write-time partition key, so the
    probe reads nprobe/K of the corpus."""
    from .kmeans import _assign, _dist2, shared_centroids

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    centroids = shared_centroids(spark, sf_dir, emb)
    assigned = _assign(emb, centroids).localCheckpoint(eager=True)

    qv = assigned.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    q_cells = (
        emb.filter(F.col("vec_id") == 0)
        .join(F.broadcast(centroids))
        .withColumn("d2", _dist2(F.col("v"), F.col("centroid")))
        .orderBy("d2", "cid")
        .limit(NPROBE)
        .select(F.col("cid").alias("cluster"))
    )
    return (
        assigned.join(F.broadcast(q_cells), "cluster")
        .filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            F.col("cluster").alias("cell"),
            _cosine(F.col("v"), F.col("qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


def _ivf_kmeans_sql() -> str:
    from .kmeans import sql_training_prologue

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{sql_training_prologue()},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
q_cells AS (
  SELECT cid AS cluster FROM a3_scored WHERE vec_id = 0
  ORDER BY d2, cid LIMIT {NPROBE}
)
SELECT a3.vec_id, a3.cluster AS cell, {_cosine_sql("a3.v", "q.qv")} AS cosine
FROM a3 JOIN q_cells ON q_cells.cluster = a3.cluster CROSS JOIN q
WHERE a3.vec_id != 0
ORDER BY cosine DESC, a3.vec_id
LIMIT {TOP_K}
"""


RECALL_Q = 16  # query batch: vec_id < RECALL_Q; corpus = the rest
PROBE_SWEEP = [1, 2, 4, 8]


def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE — recall@K as a function of nprobe — the
    plot every vector-database deployment reads before fixing its
    latency/recall trade-off ([[ann_recall_report]] audits the LSH
    index at its one operating point; this SWEEPS the IVF knob).
    For a 16-query batch: exact brute-force top-K per query vs the
    top-K restricted to the query's nprobe nearest cells, for
    nprobe ∈ {1, 2, 4, 8}; hits and integer per-mille recall per
    sweep point. Monotone in nprobe by construction (probing more
    cells only adds candidates); recall saturates at 1000 once nprobe
    reaches the cell count (10 label cells here, so nprobe=8 is still
    a real approximation).

    Plan: ONE scored relation (corpus × broadcast query batch, with
    each row's cell rank for the query) feeds BOTH the exact leg and
    all four ANN legs — the sweep costs one scan plus four K-row
    windows, not five scans. Cosines and cell ranks inherit the
    module's determinism contract (rounded centroids, ordered-fold
    dot products, label/vec_id tie-breaks)."""
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    # The 10-row centroid relation is the ONE lazily-checkpointed
    # subtree: it is referenced twice (assignment + query cell
    # ranking) and the checkpoint truncates the plan there, so the
    # centroid pass runs once and driver-side re-planning stays
    # small. The query-side relations (qs / qcell / n_queries) read a
    # vec_id < RECALL_Q pushdown scan DIRECTLY — assignment attaches
    # a cell but never changes vec_id/v, so qs from the raw scan is
    # value-identical, and at scale the pushed filter prunes to a
    # handful of row groups instead of forcing the full assignment
    # relation to materialize for 16 rows. `assigned` then has
    # exactly one consumer (the corpus side) and needs no checkpoint:
    # the corpus is scanned once by construction (2 full passes
    # total: centroid training + assignment — the floor for an IVF
    # audit that must both train and assign).
    centroids = _centroids(spark, sf_dir, emb)
    qs = (
        load_spread(spark, sf_dir, "embeddings", "vec_id")
        .filter(F.col("vec_id") < RECALL_Q)
        .select(
            F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv")
        )
    )
    corpus = _assignments(emb, centroids).filter(F.col("vec_id") >= RECALL_Q)
    wq = Window.partitionBy("query_id").orderBy(F.col("qscore").desc(), "c_label")
    qcell = (
        qs.crossJoin(F.broadcast(centroids))
        .withColumn("qscore", _dot(F.col("qv"), F.col("centroid")))
        .withColumn("crank", F.row_number().over(wq))
        .select(
            F.col("query_id").alias("qc_query"),
            F.col("c_label").alias("qc_cell"),
            "crank",
        )
    )
    sc = (
        corpus.join(F.broadcast(qs))
        .join(
            F.broadcast(qcell),
            (F.col("query_id") == F.col("qc_query"))
            & (F.col("cell") == F.col("qc_cell")),
        )
        .select(
            "query_id",
            "vec_id",
            _cosine(F.col("v"), F.col("qv")).alias("cosine"),
            "crank",
        )
        # no checkpoint: the single window pass below is sc's only
        # consumer now, so a checkpoint would be a pure extra
        # materialization (and its eager driver-side planning cost)
    )
    # ONE window pass over the shared scored relation replaces the
    # old exact leg + four per-probe legs (each a separate window
    # sort, an ann∩exact join, and a 1-row aggregate — 27 Spark jobs
    # per invocation; at scale, five sorted passes over sc). Both
    # membership tests are ranks in the SAME (cosine DESC, vec_id)
    # order: exact = global row_number ≤ K, and ann@p = rank WITHIN
    # the crank ≤ p subset ≤ K, which a conditional running count
    # over the identical window frame computes without re-sorting —
    # all five window expressions share one shuffle+sort (guide
    # §2.4: operations keyed/ordered the same way share one
    # exchange). sc has one row per (query_id, vec_id), so
    # |ann@p ∩ exact| folds to a conditional count in ONE global
    # aggregate, and the 4 output rows come from a literal-array
    # explode instead of a union of single-row subtrees.
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    wrun = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = sc.select(
        "crank",
        F.row_number().over(wr).alias("rk"),
        *[
            F.count(F.when(F.col("crank") <= p, F.lit(1)))
            .over(wrun)
            .alias(f"cnt_{p}")
            for p in PROBE_SWEEP
        ],
    )
    nq = qs.agg(F.count(F.lit(1)).alias("n_queries"))
    stats = ranked.agg(
        *[
            F.count(
                F.when(
                    (F.col("rk") <= TOP_K)
                    & (F.col("crank") <= p)
                    & (F.col(f"cnt_{p}") <= TOP_K),
                    F.lit(1),
                )
            ).alias(f"hits_{p}")
            for p in PROBE_SWEEP
        ]
    )
    per_probe = [
        F.struct(
            F.lit(p).cast("bigint").alias("nprobe"),
            F.col(f"hits_{p}").alias("hits"),
        )
        for p in PROBE_SWEEP
    ]
    return (
        stats.crossJoin(F.broadcast(nq))
        .select("n_queries", F.explode(F.array(*per_probe)).alias("e"))
        .select(
            F.col("e.nprobe").alias("nprobe"),
            "n_queries",
            F.lit(TOP_K).cast("bigint").alias("k_top"),
            F.col("e.hits").alias("hits"),
            F.expr(
                f"CASE WHEN n_queries = 0 THEN NULL ELSE"
                f" CAST((1000 * e.hits) div (n_queries * {TOP_K}) AS BIGINT) END"
            ).alias("recall_pm"),
        )
        .orderBy("nprobe")
    )


def _nprobe_curve_oracle() -> str:
    legs = " UNION ALL ".join(
        f"""
SELECT {p} AS nprobe, count(*)::BIGINT AS hits
FROM (SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM sc WHERE crank <= {p})
      WHERE rk <= {TOP_K}) ann
JOIN exact USING (query_id, vec_id)"""
        for p in PROBE_SWEEP
    )
    return f"""
WITH {_CENTROID_CTE},
qs AS (SELECT vec_id AS query_id, v AS qv FROM assigned WHERE vec_id < {RECALL_Q}),
corpus AS (SELECT vec_id, v, cell FROM assigned WHERE vec_id >= {RECALL_Q}),
qcell AS (
  SELECT vec_id AS query_id, label AS cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, label) AS crank
  FROM scored WHERE vec_id < {RECALL_Q}
),
sc AS (
  SELECT q.query_id, c.vec_id, {_cosine_sql("c.v", "q.qv")} AS cosine, qc.crank
  FROM corpus c CROSS JOIN qs q
  JOIN qcell qc ON qc.query_id = q.query_id AND qc.cell = c.cell
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id) AS rk
    FROM sc)
  WHERE rk <= {TOP_K}
),
nq AS (SELECT count(*)::BIGINT AS n_queries FROM qs),
legs AS ({legs})
SELECT nprobe, n_queries, {TOP_K}::BIGINT AS k_top, hits,
       CASE WHEN n_queries = 0 THEN NULL ELSE
         CAST((1000 * hits) // (n_queries * {TOP_K}) AS BIGINT) END AS recall_pm
FROM legs, nq
ORDER BY nprobe
"""


QUERIES = (
    (similarity_ivf_search, _IVF_SQL),
    (ivf_cell_stats, _IVF_STATS_SQL),
    (ivf_kmeans_search, _ivf_kmeans_sql()),
    (ivf_nprobe_recall_curve, _nprobe_curve_oracle()),
)
