"""Product quantization (PQ) + asymmetric-distance search over
``embeddings`` — the FAISS IVFPQ code path re-expressed relationally.

[beyond-reference] completes the vector-search family (BASELINE.json
north star; the reference has no data plane — its surface is
app.py:25-107 metadata rules): `llm/ivf.py` provides the coarse
partitioner, `llm/quantize.py` the per-dimension scalar codes; this
module adds the subspace CODEBOOK layout that production ANN actually
ships at 100 TB — each 64-dim float vector becomes M=8 codes of
4 bits' worth of centroid id (16 centroids per 8-dim subspace), a
64x byte reduction, searched by table lookups instead of arithmetic
on floats.

Design (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011):

- TRAIN set-based, not per-subspace: the (vec_id, sub) subvector
  relation makes one deterministic-Lloyd pass train ALL 8 codebooks
  simultaneously — assignment is a (vec_id, sub)-windowed argmin,
  the update a (sub, cid, pos) mean. No 8x duplicated plans, and the
  SQL oracle unrolls the same two iterations over the same relation
  (the `llm/kmeans.py` determinism contract: vec_id<16 seeds, means
  rounded to 6 dp per step, argmin ties on cid).
- ENCODE: the final assignment IS the code table (vec_id, sub,
  code) — 8 rows of 2 small ints per vector; at scale this is the
  packed 8-byte-per-vector index segment.
- SEARCH (ADC): the query is cut into the same 8 subvectors and a
  128-row lookup table d2(q_sub, centroid) is built once and
  broadcast. Each corpus vector's approximate distance is the SUM of
  8 LUT hits — a code-keyed join + integer aggregate that never
  touches the float corpus. LUT entries are fixed-pointed to 1e6
  ticks (BIGINT) so the 8-way sum is order-free and engine-exact
  (a float sum's result depends on aggregation order).
- RERANK: top-`PQ_CANDIDATES` by ADC ticks re-scored exactly on the
  float vectors, top-`PQ_K` by true cosine returned — the standard
  quantize-then-rerank contract shared with
  `similarity_quantized_rerank`.

Scale: training touches the corpus twice (bounded iterations) with a
128-row broadcast each pass; search I/O is the code table (16
bytes/vector here, 8 at bit-packing) plus one 128-row broadcast; the
rerank reads `PQ_CANDIDATES` float vectors, not the corpus. Every
top-k plans as TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import memo
from ..catalog.fixtures import _local_df
from ..queries.base import load_spread
from .similarity import DIM, _as_double, _cosine, _cosine_sql

M_SUB = 8                       # subspaces
SUBDIM = DIM // M_SUB           # dims per subspace
K_PQ = 16                       # centroids per subspace codebook
PQ_ITER = 2                     # Lloyd iterations (unrolled in SQL)
TICK = 1_000_000                # LUT fixed-point scale
PQ_CANDIDATES = 50
PQ_K = 10


def _sub_fold(a, b):
    """Σ (a_i − b_i)² over a subvector as an ordered fold (same
    element order as the SQL list_transform rendering)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _subvectors(emb: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id[, extra], sub, sv): the corpus cut into M_SUB
    subvectors. ``extra`` columns ride along unchanged (e.g. the IVF
    cell id, so the encoder never has to join it back on)."""
    return emb.select(
        "vec_id",
        *extra,
        F.explode(
            F.expr(
                f"transform(sequence(0, {M_SUB - 1}),"
                f" s -> struct(s AS sub, slice(v, s * {SUBDIM} + 1, {SUBDIM}) AS sv))"
            )
        ).alias("e"),
    ).select(
        "vec_id", *extra, F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv")
    )


def _pq_assign(
    sv: DataFrame, codebook: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    scored = sv.join(F.broadcast(codebook), "sub").withColumn(
        "d2", _sub_fold(F.col("sv"), F.col("centroid"))
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("d2", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", *extra, "sub", "sv", F.col("cid").alias("code"))
    )


# NOTE (r10, measured and REVERTED): encoding via the memoized LITERAL
# codebook (per-sub CASE dispatching a `least` over 16 inline (d2, cid)
# fold structs) was tried to remove the 16x broadcast-join blowup and
# the (vec_id, sub) window. Interleaved A/B at local[32], sf0.1:
# catastrophic — pq_adc_search 0.67 -> 5.7-23.8 s, ivfpq 1.45 -> 6.9 s.
# The 128 inline zip_with/aggregate folds are interpreted (HOFs don't
# codegen) and the giant expression tree defeats whole-stage codegen
# around them; the join form evaluates the same number of folds but one
# per row inside a codegen pipeline. The window form stays.


def _pq_update(assigned: DataFrame) -> DataFrame:
    dims = assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
    per_dim = dims.groupBy("sub", "code", "pos").agg(F.round(F.avg("x"), 6).alias("c"))
    return (
        per_dim.groupBy("sub", "code")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select("sub", F.col("code").alias("cid"), "centroid")
    )


def _train_codebook(sv: DataFrame) -> DataFrame:
    codebook = (
        sv.filter(F.col("vec_id") < K_PQ)
        .select("sub", F.col("vec_id").cast("int").alias("cid"), F.col("sv").alias("centroid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(PQ_ITER):
        codebook = _pq_update(_pq_assign(sv, codebook)).localCheckpoint(eager=True)
    return codebook


def _shared_codebook(
    spark: SparkSession, sf_dir: str, name: str, sv: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(sv, codebook) with the codebook trained once per session and
    corpus — the same "train the quantizer once, probe it from every
    consumer" lifecycle as kmeans.shared_centroids (128 rows of 8
    doubles; collected Python floats ARE the IEEE doubles Spark
    computed, so a memo hit changes nothing downstream). The subvector
    checkpoint only pays for itself while TRAINING re-reads ``sv`` per
    Lloyd round, so only a miss takes it; on a hit the remaining
    consumers (encode + LUT) are cheap projections."""

    def build():
        nonlocal sv
        sv = sv.localCheckpoint(eager=True)
        return [
            (int(r["sub"]), int(r["cid"]), [float(x) for x in r["centroid"]])
            for r in _train_codebook(sv).collect()
        ]

    rows = memo.shared(spark, sf_dir, name, build)
    schema = StructType.fromDDL("sub int, cid int, centroid array<double>")
    return sv, _local_df(spark, rows, schema)


def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    sv, codebook = _shared_codebook(spark, sf_dir, "pq_codebook", _subvectors(emb))
    codes = _pq_assign(sv, codebook).select("vec_id", "sub", "code")
    lut = (
        sv.filter(F.col("vec_id") == 0)
        .join(F.broadcast(codebook), "sub")
        .select(
            F.col("sub").alias("l_sub"),
            F.col("cid").alias("l_cid"),
            F.floor(_sub_fold(F.col("sv"), F.col("centroid")) * TICK).cast("bigint").alias(
                "ticks"
            ),
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(lut),
            (F.col("sub") == F.col("l_sub")) & (F.col("code") == F.col("l_cid")),
        )
        .groupBy("vec_id")
        .agg(F.sum("ticks").alias("adc_d2_ticks"))
    )
    candidates = adc.orderBy("adc_d2_ticks", "vec_id").limit(PQ_CANDIDATES)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        candidates.join(emb, "vec_id")
        .join(F.broadcast(q))
        .select("vec_id", "adc_d2_ticks", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(PQ_K)
    )


def _sub_d2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {SUBDIM + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _sql_pq_assign(cb: str, name: str) -> str:
    return f"""
{name}_scored AS (
  SELECT sv.vec_id, sv.sub, sv.sv, c.cid,
         {_sub_d2_sql('sv.sv', 'c.centroid')} AS d2
  FROM sv JOIN {cb} c ON c.sub = sv.sub
),
{name} AS (
  SELECT vec_id, sub, sv, cid AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
        FROM {name}_scored)
  WHERE rk = 1
)"""


def _sql_pq_update(assign_cte: str, name: str) -> str:
    return f"""
{name}_dims AS (
  SELECT sub, code, g.i AS pos, sv[g.i] AS x
  FROM {assign_cte}, unnest(range(1, {SUBDIM + 1})) AS g(i)
),
{name}_per_dim AS (
  SELECT sub, code, pos, round(avg(x), 6) AS c FROM {name}_dims GROUP BY 1, 2, 3
),
{name} AS (
  SELECT sub, code AS cid, list(c ORDER BY pos) AS centroid
  FROM {name}_per_dim GROUP BY sub, code
)"""


_PQ_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sv AS (
  SELECT vec_id, s AS sub,
         list_slice(v, s * {SUBDIM} + 1, (s + 1) * {SUBDIM}) AS sv
  FROM e, unnest(range(0, {M_SUB})) AS t(s)
),
cb0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, sv AS centroid FROM sv WHERE vec_id < {K_PQ}),
{_sql_pq_assign('cb0', 'pa1')},
{_sql_pq_update('pa1', 'cb1')},
{_sql_pq_assign('cb1', 'pa2')},
{_sql_pq_update('pa2', 'cb2')},
{_sql_pq_assign('cb2', 'codes')},
lut AS (
  SELECT q.sub, c.cid,
         CAST(floor({_sub_d2_sql('q.sv', 'c.centroid')} * {TICK}) AS BIGINT) AS ticks
  FROM (SELECT sub, sv FROM sv WHERE vec_id = 0) q
  JOIN cb2 c ON c.sub = q.sub
),
adc AS (
  SELECT codes.vec_id, sum(lut.ticks)::BIGINT AS adc_d2_ticks
  FROM codes JOIN lut ON lut.sub = codes.sub AND lut.cid = codes.code
  WHERE codes.vec_id != 0
  GROUP BY codes.vec_id
),
candidates AS (
  SELECT vec_id, adc_d2_ticks FROM adc ORDER BY adc_d2_ticks, vec_id LIMIT {PQ_CANDIDATES}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT c.vec_id, c.adc_d2_ticks, {_cosine_sql('e.v', 'q.qv')} AS cosine
FROM candidates c JOIN e ON e.vec_id = c.vec_id, q
ORDER BY cosine DESC, c.vec_id
LIMIT {PQ_K}
"""


IVFPQ_NPROBE = 2


def ivfpq_residual_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the full FAISS-style billion-scale ANN layout,
    composed from the two trained quantizers this repo already ships:
    the deterministic-Lloyd coarse quantizer (`llm/kmeans.py`, K=8
    cells — the write-time partition key) and a PQ codebook trained
    on RESIDUALS v − centroid(cell) (residuals concentrate near 0, so
    the same 16 centroids/subspace spend their resolution where the
    mass is — the reason IVFPQ beats flat PQ at equal bits).

    Search: the query probes its `IVFPQ_NPROBE` nearest cells; for
    each probed cell a separate 128-row LUT is built from the
    query's residual AGAINST THAT CELL (asymmetric distance needs the
    query expressed in the same residual frame as the stored codes).
    Candidates are only the probed cells' code rows — nprobe/K of the
    code table, which is itself ~64x smaller than the float corpus —
    then the usual exact-cosine rerank of the top `PQ_CANDIDATES`.

    Exactness: residual subtraction is elementwise IEEE (6-dp-rounded
    centroids make it engine-stable), LUT entries are BIGINT ticks,
    and the oracle replays BOTH trainings — the kmeans prologue CTEs
    feed residual CTEs that feed the unrolled PQ rounds.
    """
    from .kmeans import _assign, _dist2, shared_centroids

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # assigned has exactly ONE consumer below (resid), so it is not
    # checkpointed (guide §1.2)
    centroids = shared_centroids(spark, sf_dir, emb)
    assigned = _assign(emb, centroids)
    resid = (
        assigned.join(F.broadcast(centroids), assigned.cluster == centroids.cid)
        .select(
            "vec_id",
            "cluster",
            F.zip_with("v", "centroid", lambda x, c: x - c).alias("v"),
        )
    )
    # cluster rides the subvector explode so the encoder never joins
    # the corpus-sized assignment relation back on vec_id (guide §2.4)
    rsv, codebook = _shared_codebook(
        spark, sf_dir, "pq_residual_codebook", _subvectors(resid, extra=("cluster",))
    )
    codes = _pq_assign(rsv, codebook, extra=("cluster",)).select(
        "vec_id", "cluster", "sub", "code"
    )
    q_cells = (
        emb.filter(F.col("vec_id") == 0)
        .join(F.broadcast(centroids))
        .withColumn("d2", _dist2(F.col("v"), F.col("centroid")))
        .orderBy("d2", "cid")
        .limit(IVFPQ_NPROBE)
        .select(F.col("cid").alias("qcell"), F.col("centroid").alias("qcell_centroid"))
    )
    q_resid = (
        emb.filter(F.col("vec_id") == 0)
        .join(F.broadcast(q_cells))
        .select(
            "qcell",
            F.zip_with("v", "qcell_centroid", lambda x, c: x - c).alias("v"),
        )
    )
    qrsv = q_resid.select(
        "qcell",
        F.explode(
            F.expr(
                f"transform(sequence(0, {M_SUB - 1}),"
                f" s -> struct(s AS sub, slice(v, s * {SUBDIM} + 1, {SUBDIM}) AS sv))"
            )
        ).alias("e"),
    ).select("qcell", F.col("e.sub").alias("qsub"), F.col("e.sv").alias("qsv"))
    lut = (
        qrsv.join(F.broadcast(codebook), qrsv.qsub == codebook.sub)
        .select(
            "qcell",
            "qsub",
            F.col("cid").alias("l_cid"),
            F.floor(_sub_fold(F.col("qsv"), F.col("centroid")) * TICK).cast("bigint").alias(
                "ticks"
            ),
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(lut),
            (F.col("cluster") == F.col("qcell"))
            & (F.col("sub") == F.col("qsub"))
            & (F.col("code") == F.col("l_cid")),
        )
        .groupBy("vec_id", "cluster")
        .agg(F.sum("ticks").alias("adc_d2_ticks"))
    )
    candidates = adc.orderBy("adc_d2_ticks", "vec_id").limit(PQ_CANDIDATES)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        candidates.join(emb, "vec_id")
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.col("cluster").alias("cell"),
            "adc_d2_ticks",
            _cosine(F.col("v"), F.col("qv")).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(PQ_K)
    )


def _ivfpq_sql() -> str:
    from .kmeans import sql_training_prologue

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{sql_training_prologue()},
resid AS (
  SELECT a3.vec_id, a3.cluster,
         list_transform(range(1, {DIM + 1}), i -> a3.v[i] - c2.centroid[i]) AS rv
  FROM a3 JOIN c2 ON c2.cid = a3.cluster
),
sv AS (
  SELECT vec_id, s AS sub,
         list_slice(rv, s * {SUBDIM} + 1, (s + 1) * {SUBDIM}) AS sv
  FROM resid, unnest(range(0, {M_SUB})) AS t(s)
),
cb0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, sv AS centroid FROM sv WHERE vec_id < {K_PQ}),
{_sql_pq_assign('cb0', 'pa1')},
{_sql_pq_update('pa1', 'cb1')},
{_sql_pq_assign('cb1', 'pa2')},
{_sql_pq_update('pa2', 'cb2')},
{_sql_pq_assign('cb2', 'codes')},
q_cells AS (
  SELECT s.cid AS qcell, c2.centroid AS qcell_centroid
  FROM a3_scored s JOIN c2 ON c2.cid = s.cid
  WHERE s.vec_id = 0
  ORDER BY s.d2, s.cid LIMIT {IVFPQ_NPROBE}
),
qrsv AS (
  SELECT qc.qcell, t.s AS sub,
         list_slice(list_transform(range(1, {DIM + 1}), i -> q.v[i] - qc.qcell_centroid[i]),
                    t.s * {SUBDIM} + 1, (t.s + 1) * {SUBDIM}) AS qsv
  FROM q_cells qc, (SELECT v FROM e WHERE vec_id = 0) q, unnest(range(0, {M_SUB})) AS t(s)
),
lut AS (
  SELECT qrsv.qcell, qrsv.sub, c.cid,
         CAST(floor({_sub_d2_sql('qrsv.qsv', 'c.centroid')} * {TICK}) AS BIGINT) AS ticks
  FROM qrsv JOIN cb2 c ON c.sub = qrsv.sub
),
adc AS (
  SELECT codes.vec_id, a.cluster, sum(lut.ticks)::BIGINT AS adc_d2_ticks
  FROM codes
  JOIN (SELECT vec_id, cluster FROM a3) a ON a.vec_id = codes.vec_id
  JOIN lut ON lut.qcell = a.cluster AND lut.sub = codes.sub AND lut.cid = codes.code
  WHERE codes.vec_id != 0
  GROUP BY 1, 2
),
candidates AS (
  SELECT * FROM adc ORDER BY adc_d2_ticks, vec_id LIMIT {PQ_CANDIDATES}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT c.vec_id, c.cluster AS cell, c.adc_d2_ticks, {_cosine_sql('e.v', 'q.qv')} AS cosine
FROM candidates c JOIN e ON e.vec_id = c.vec_id, q
ORDER BY cosine DESC, c.vec_id
LIMIT {PQ_K}
"""


QUERIES = (
    (pq_adc_search, _PQ_SQL),
    (ivfpq_residual_search, _ivfpq_sql()),
)
