"""Embedding scalar quantization (int8) over ``embeddings``.

[beyond-reference] similarity-search scale lever (BASELINE.json north
star; reference has no data plane at all — its whole surface is
app.py:25-107 metadata rules). A float32 embedding corpus at 100 TB
is mostly vector bytes; per-dimension int8 scalar quantization cuts
the ANN working set 4x so IVF cell scans (``ivf.py``) stay
memory-resident on each executor. This is the standard
quantize-then-rerank layout: search over codes, re-score the short
candidate list against the float originals.

Cross-engine exactness: every arithmetic step is IEEE-754 double with
the same expression tree in Spark and DuckDB — the float32 input is
widened to double (exact), per-dim min/max are doubles, and the code
is ``least(floor((v - minv) * 256 / (maxv - minv)), 255) - 128``,
an integer both engines agree on bit-for-bit (floor can only sit on
an exact-integer boundary at v == minv / v == maxv, both exact).

Scale: the per-dimension min/max table is DIM rows (64 here) — a
map-side partial aggregate followed by a broadcast join back onto the
exploded corpus: no shuffle of the big side at all. The explode is a
generator projection, pipelined inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load

QUANT_LEVELS = 256  # int8: codes shifted to [-128, 127]


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max scalar quantization of every embedding
    to an int8 code. Output is one row per (vec_id, dim) with the
    1-based dimension index — the columnar layout a PQ/SQ index
    builder consumes directly."""
    emb = load(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.col("raw").cast("double").alias("v"),
    )
    ranges = vals.groupBy("dim").agg(
        F.min("v").alias("minv"), F.max("v").alias("maxv")
    )
    code = (
        F.least(
            F.floor((F.col("v") - F.col("minv")) * QUANT_LEVELS / (F.col("maxv") - F.col("minv"))),
            F.lit(255),
        )
        - 128
    )
    return (
        vals.join(F.broadcast(ranges), "dim")
        .select("vec_id", "dim", code.cast("int").alias("code"))
        .orderBy("vec_id", "dim")
    )


_QUANT_SQL = f"""
WITH vals AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
ranges AS (
  SELECT dim, min(v) AS minv, max(v) AS maxv FROM vals GROUP BY dim
)
SELECT vec_id, vals.dim,
       CAST(least(floor((v - minv) * {QUANT_LEVELS} / (maxv - minv)), 255) - 128 AS INT) AS code
FROM vals JOIN ranges ON vals.dim = ranges.dim
ORDER BY vec_id, vals.dim
"""


def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction-error report per dimension: mean absolute error
    between the original value and the dequantized code centre, plus
    the dimension's range. The go/no-go stat before committing an ANN
    index to quantized codes. Integer-exact inputs, one mean — the
    sum order inside avg() is engine-dependent, so the mean is kept
    exact by summing scaled BIGINT error ticks (floor-tick pattern,
    see profiling.py) and dividing once."""
    emb = load(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.col("raw").cast("double").alias("v"),
    )
    ranges = vals.groupBy("dim").agg(
        F.min("v").alias("minv"), F.max("v").alias("maxv")
    )
    width = (F.col("maxv") - F.col("minv")) / QUANT_LEVELS
    code = F.least(
        F.floor((F.col("v") - F.col("minv")) * QUANT_LEVELS / (F.col("maxv") - F.col("minv"))),
        F.lit(255),
    )
    recon = F.col("minv") + (code + F.lit(0.5)) * width
    # exact mean: per-row |err| is IEEE-identical cross-engine; scale
    # to integer 1e9-ticks before summing so the reduction commutes.
    err_ticks = F.floor(F.abs(F.col("v") - recon) * 1e9).cast("bigint")
    return (
        vals.join(F.broadcast(ranges), "dim")
        .withColumn("err_ticks", err_ticks)
        .groupBy("dim")
        .agg(
            F.sum("err_ticks").alias("sum_err_ticks"),
            F.count("*").alias("n"),
            F.min("minv").alias("dim_min"),
            F.max("maxv").alias("dim_max"),
        )
        .select(
            "dim",
            (F.col("sum_err_ticks").cast("double") / F.col("n") / 1e9).alias("mae"),
            "dim_min",
            "dim_max",
        )
        .orderBy("dim")
    )


_QUANT_ERR_SQL = f"""
WITH vals AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
ranges AS (
  SELECT dim, min(v) AS minv, max(v) AS maxv FROM vals GROUP BY dim
),
scored AS (
  SELECT vals.dim, minv, maxv,
         floor(abs(v - (minv + (least(floor((v - minv) * {QUANT_LEVELS} / (maxv - minv)), 255) + 0.5)
                        * ((maxv - minv) / {QUANT_LEVELS}))) * 1e9)::BIGINT AS err_ticks
  FROM vals JOIN ranges ON vals.dim = ranges.dim
)
SELECT dim,
       (sum(err_ticks)::BIGINT)::DOUBLE / count(*) / 1e9 AS mae,
       min(minv) AS dim_min,
       max(maxv) AS dim_max
FROM scored GROUP BY dim ORDER BY dim
"""


RERANK_CANDIDATES = 50
RERANK_K = 10


def similarity_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scalar-quantized ANN search path: score the corpus by
    asymmetric distance (float query · dequantized int8 code centres
    — ADC, the standard PQ/SQ search trick), keep the top
    ``RERANK_CANDIDATES``, then rerank those exactly on the float
    vectors and return the top ``RERANK_K`` by true cosine.

    Scale: the first pass reads only code bytes (4x less I/O and
    cache footprint than floats); both top-k stages plan as
    TakeOrderedAndProject (per-partition heaps, no global sort); the
    dim-range arrays and the query vector are 1-row broadcasts. The
    rerank touches RERANK_CANDIDATES float vectors, not the corpus."""
    from .similarity import _as_double, _cosine, _dot

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    vals = emb.select("vec_id", F.posexplode("v").alias("pos", "x")).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), F.col("x").alias("x")
    )
    arrays = (
        vals.groupBy("dim")
        .agg(F.min("x").alias("minv"), F.max("x").alias("maxv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "minv"))), lambda s: s["minv"]
            ).alias("minvs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "maxv"))), lambda s: s["maxv"]
            ).alias("maxvs"),
        )
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def centre(i):
        lo = F.element_at(F.col("minvs"), i)
        hi = F.element_at(F.col("maxvs"), i)
        code = F.least(
            F.floor((F.element_at(F.col("v"), i) - lo) * QUANT_LEVELS / (hi - lo)),
            F.lit(255),
        )
        return lo + (code + 0.5) * (hi - lo) / QUANT_LEVELS

    centres = F.transform(F.sequence(F.lit(1), F.lit(64)), centre)
    candidates = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(arrays))
        .join(F.broadcast(q))
        .select("vec_id", "v", "qv", _dot(F.col("qv"), centres).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), "vec_id")
        .limit(RERANK_CANDIDATES)
    )
    return (
        candidates.select(
            "vec_id", "adc_score", _cosine(F.col("v"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(RERANK_K)
    )


_CENTRE_SQL = (
    f"(minvs[i] + (least(floor((v[i] - minvs[i]) * {QUANT_LEVELS} / (maxvs[i] - minvs[i])), 255)"
    f" + 0.5) * (maxvs[i] - minvs[i]) / {QUANT_LEVELS})"
)

_RERANK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vals AS (
  SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
),
ranges AS (SELECT dim, min(x) AS minv, max(x) AS maxv FROM vals GROUP BY dim),
arrays AS (
  SELECT list(minv ORDER BY dim) AS minvs, list(maxv ORDER BY dim) AS maxvs FROM ranges
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
scored AS (
  SELECT vec_id, v, qv,
         list_sum(list_transform(range(1, 65), i -> qv[i] * {_CENTRE_SQL})) AS adc_score
  FROM e, arrays, q
  WHERE vec_id != 0
),
candidates AS (
  SELECT * FROM scored ORDER BY adc_score DESC, vec_id LIMIT {RERANK_CANDIDATES}
)
SELECT vec_id, adc_score,
       list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))
            * sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))) AS cosine
FROM candidates
ORDER BY cosine DESC, vec_id
LIMIT {RERANK_K}
"""


HALF = 32  # sign bits packed per int64 word (2 words for DIM=64)
HAM_CANDIDATES = 40
HAM_RERANK_K = 10


def _sign_code(v, lo: int):
    """Horner-fold the sign bits of dims [lo, lo+HALF) (1-based) into
    one int64 word: acc = acc*2 + (x >= 0). Exact integers, and the
    Horner form with init 0 equals DuckDB's ``list_reduce`` (which
    seeds the fold with the FIRST element — 0*2+b1 == b1), so both
    engines compute the identical word."""
    bits = F.transform(
        F.slice(v, lo, HALF),
        lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)


def similarity_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN: 1 bit per dimension (the sign), so a
    64-dim float32 vector compresses 32× to two int64 words; candidate
    generation is Hamming distance = popcount(code XOR query_code),
    then the short list is reranked by exact float cosine. This is
    the third point on the repo's quantization curve — float
    ([[similarity_topk_bruteforce]]) → int8 ADC
    ([[similarity_quantized_rerank]]) → 1-bit — i.e. the binary
    quantization mode production vector stores ship for cold tiers.

    Scale: the Hamming pass reads 16 BYTES per vector (two words) and
    is pure codegen'd integer ops (XOR + bit_count) — memory-bandwidth
    bound, no floats touched; both cuts compile to
    TakeOrderedAndProject (per-partition heaps, no global sort); the
    rerank touches HAM_CANDIDATES float vectors, not the corpus. The
    (hamming, vec_id) candidate order and the integer codes are exact
    cross-engine, so the candidate SET is deterministic."""
    from .similarity import _as_double, _cosine

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    coded = emb.select(
        "vec_id",
        "v",
        _sign_code(F.col("v"), 1).alias("h1"),
        _sign_code(F.col("v"), HALF + 1).alias("h2"),
    )
    q = coded.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("h1").alias("qh1"), F.col("h2").alias("qh2")
    )
    hamming = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("qh1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("qh2")))
    ).cast("long")
    candidates = (
        coded.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "v", "qv", hamming.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(HAM_CANDIDATES)
    )
    return (
        candidates.select(
            "vec_id", "hamming", _cosine(F.col("v"), F.col("qv")).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(HAM_RERANK_K)
    )


def _sign_code_sql(lo: int) -> str:
    hi = lo + HALF - 1
    return (
        f"list_reduce(list_transform(v[{lo}:{hi}], "
        "x -> CASE WHEN x >= 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        "(acc, b) -> acc * 2 + b)"
    )


def _binary_rerank_sql() -> str:
    from .similarity import _cosine_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
coded AS (
  SELECT vec_id, v, {_sign_code_sql(1)} AS h1, {_sign_code_sql(HALF + 1)} AS h2 FROM e
),
q AS (SELECT v AS qv, h1 AS qh1, h2 AS qh2 FROM coded WHERE vec_id = 0),
candidates AS (
  SELECT vec_id, v, qv,
         CAST(bit_count(xor(h1, qh1)) + bit_count(xor(h2, qh2)) AS BIGINT) AS hamming
  FROM coded, q
  WHERE vec_id != 0
  ORDER BY hamming, vec_id
  LIMIT {HAM_CANDIDATES}
)
SELECT vec_id, hamming, {_cosine_sql("v", "qv")} AS cosine
FROM candidates
ORDER BY cosine DESC, vec_id
LIMIT {HAM_RERANK_K}
"""


QUERIES = (
    (embedding_quantize_int8, _QUANT_SQL),
    (embedding_quantization_error, _QUANT_ERR_SQL),
    (similarity_quantized_rerank, _RERANK_SQL),
    (similarity_binary_rerank, _binary_rerank_sql()),
)
