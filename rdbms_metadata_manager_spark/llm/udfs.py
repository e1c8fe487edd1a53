"""UDF surface: vectorized pandas_udf (Arrow scalar path) and a
Python UDTF (table function) — the two sanctioned escape hatches when
built-in Column expressions can't express an operator.

Both examples are deterministic and SQL-reproducible, so even the
Python paths get exact DuckDB oracles. The chunker is the
training-data-pipeline operator: split documents into fixed-size
token windows (what an LLM ingestion job does before tokenization).

Scale: pandas_udf processes Arrow batches executor-side (~10-100×
row-at-a-time Python); the UDTF streams rows out per input row
without materializing per-doc chunk lists on the driver.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType, LongType

from ..queries.base import load, load_spread

CHUNK_TOKENS = 32


@pandas_udf(DoubleType())
def vowel_density(texts: pd.Series) -> pd.Series:
    """Vectorized scalar UDF: vowels per character (pure pandas ops
    on the Arrow batch — no per-row Python)."""
    return texts.str.count(r"[aeiou]") / texts.str.len()


def pandas_udf_text_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    return d.select(
        "doc_id",
        vowel_density(F.col("text")).alias("vowel_density"),
    ).orderBy("doc_id")


_PANDAS_UDF_SQL = """
SELECT doc_id,
       len(regexp_extract_all(text, '[aeiou]')) * 1.0 / length(text) AS vowel_density
FROM documents
ORDER BY doc_id
"""


@udtf(returnType="doc_id: bigint, chunk_id: int, n_tokens: int, chunk_text: string")
class ChunkDocument:
    """Python UDTF: explode one document into fixed-size token
    windows. Lazy row generator — nothing accumulates per doc."""

    def eval(self, doc_id: int, text: str) -> Iterator[tuple]:
        words = text.split(" ")
        for i in range(0, len(words), CHUNK_TOKENS):
            chunk = words[i : i + CHUNK_TOKENS]
            yield doc_id, i // CHUNK_TOKENS, len(chunk), " ".join(chunk)


def udtf_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents", "doc_id").filter(F.col("doc_id") < 100)
    spark.udtf.register("chunk_document", ChunkDocument)
    d.createOrReplaceTempView("docs_to_chunk")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_id, c.n_tokens, c.chunk_text
        FROM docs_to_chunk d,
             LATERAL chunk_document(d.doc_id, d.text) c
        ORDER BY c.doc_id, c.chunk_id
        """
    )


_UDTF_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 100
),
chunks AS (
  SELECT doc_id,
         CAST(g.i AS INT) AS chunk_id,
         words[g.i * {CHUNK_TOKENS} + 1 : g.i * {CHUNK_TOKENS} + {CHUNK_TOKENS}] AS chunk
  FROM w, unnest(range(0, CAST(ceil(len(words) * 1.0 / {CHUNK_TOKENS}) AS BIGINT))) AS g(i)
)
SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM chunks
ORDER BY doc_id, chunk_id
"""


@pandas_udf(LongType())  # type object, not "long": the DDL-string parse needs a live session at import time
def gini_numerator(cents: pd.Series) -> int:
    """Vectorized UDAF (GROUPED_AGG pandas_udf — Series → scalar):
    the Gini mean-difference numerator Σᵢ (2i − n − 1)·x₍ᵢ₎ over the
    sorted group, all-integer so it hash-matches a window-SQL oracle.
    The coefficients sum to zero, so centering on the group min is an
    exact identity that halves the magnitude headroom (the bound is
    ~n²·range(x); beyond ~10⁹-row groups you'd shard the sum)."""
    import numpy as np

    x = np.sort(cents.to_numpy(np.int64))
    x = x - x.min() if len(x) else x
    n = np.int64(len(x))
    i = np.arange(1, n + 1, dtype=np.int64)
    return int(np.sum((2 * i - n - 1) * x))


def pandas_udaf_gini_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment account-balance inequality via a custom UDAF.

    Demonstrates the third UDF shape (UDAF) next to the scalar
    pandas_udf and the UDTF above. Spark feeds each (segment) group's
    column to the kernel as Arrow batches with map-side partial
    ordering handled by the shuffle; the NATIVE aggregates ride the
    same HashAggregate. Ties in cents don't affect the numerator
    (equal values swap coefficients within a block whose sum is
    fixed), so the result is deterministic and the oracle's
    row_number() tie order is irrelevant."""
    c = load_spread(spark, sf_dir, "customer", "c_custkey").select(
        "c_mktsegment",
        F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    # Spark disallows mixing a GROUPED_AGG pandas UDF with native
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT) — compute
    # the native pair separately and join on the (tiny) group key.
    native = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("sum_cents"),
    )
    udaf = c.groupBy("c_mktsegment").agg(gini_numerator(F.col("cents")).alias("gini_num"))
    return (
        native.join(udaf, "c_mktsegment")
        .select("c_mktsegment", "n_customers", "sum_cents", "gini_num")
        .orderBy("c_mktsegment")
    )


_UDAF_SQL = """
WITH c AS (
  SELECT c_mktsegment, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
),
r AS (
  SELECT c_mktsegment, cents,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY cents) AS i,
         count(*) OVER (PARTITION BY c_mktsegment) AS n,
         min(cents) OVER (PARTITION BY c_mktsegment) AS lo
  FROM c
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(sum((2 * i - n - 1) * (cents - lo)) AS BIGINT) AS gini_num
FROM r
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


class PolymorphicDocStats:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze``): the output
    schema is computed at PLAN time from the constant metrics
    argument — callers pick which integer doc statistics they want
    ('n_words', 'n_upper', 'n_digits') and the function emits exactly
    those columns, pruned like any other projection. This is the
    schema-from-arguments shape that fixed ``returnType`` UDTFs
    cannot express (a metrics framework would otherwise register one
    UDTF per metric combination).

    All metrics are ASCII-integer so the SQL oracle is exact; eval
    stays a lazy one-row generator."""

    _METRICS = {
        # ASCII whitespace / character classes ONLY (not str.split()/
        # str.isdigit(), which are Unicode-wide) so the SQL oracle's
        # [ \t\n\r\f\v] and [0-9] classes agree on any corpus.
        "n_words": lambda t: sum(1 for w in re.split("[ \t\n\r\f\v]+", t) if w),
        "n_upper": lambda t: sum(1 for ch in t if "A" <= ch <= "Z"),
        "n_digits": lambda t: sum(1 for ch in t if "0" <= ch <= "9"),
    }

    @staticmethod
    def analyze(text, metrics):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import LongType, StructType

        if not isinstance(metrics.value, str):
            # Non-foldable argument (value None) or a non-string
            # literal: fail with intent, not an AttributeError from
            # value.split.
            raise ValueError("doc_stats: metrics must be a constant string")
        schema = StructType()
        for name in metrics.value.split(","):
            if name not in PolymorphicDocStats._METRICS:
                raise ValueError(f"unknown metric {name!r}")
            schema = schema.add(name, LongType())
        return AnalyzeResult(schema=schema)

    def eval(self, text: str, metrics: str) -> Iterator[tuple]:
        yield tuple(self._METRICS[m](text) for m in metrics.split(","))


def udtf_polymorphic_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf as udtf_fn

    d = load_spread(spark, sf_dir, "documents", "doc_id").filter(F.col("doc_id") < 200)
    spark.udtf.register("doc_stats", udtf_fn(PolymorphicDocStats))
    d.createOrReplaceTempView("docs_for_stats")
    return spark.sql(
        """
        SELECT d.doc_id, s.n_words, s.n_upper
        FROM docs_for_stats d,
             LATERAL doc_stats(d.text, 'n_words,n_upper') s
        ORDER BY d.doc_id
        """
    )


# Python str.split() drops empty fields; mirror with a filtered
# regex split. n_upper counts ASCII A-Z only, same on both sides.
_POLY_UDTF_SQL = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\r\\f\\v]+'), x -> x <> '')) AS BIGINT) AS n_words,
       CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


def _byte_stat_batches(batches):
    """pyarrow-compute kernel: chars (utf8 code points) vs bytes per
    doc, emitted as per-batch columns. Runs entirely on Arrow buffers
    — no pandas object conversion at all (the difference from a
    pandas_udf: zero per-string Python objects on the hot path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        txt = batch.column(1)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(0),
                pc.cast(pc.utf8_length(txt), pa.int64()),
                pc.cast(pc.binary_length(txt), pa.int64()),
            ],
            ["source", "n_chars_doc", "n_bytes_doc"],
        )


def arrow_doc_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` (Spark 4): the lowest-overhead Python batch
    face — RecordBatches in, RecordBatches out, no pandas
    materialization. Used for the byte-accounting report every
    ingest pipeline needs (UTF-8 chars vs bytes — the multi-byte
    ratio drives storage and tokenizer-budget estimates).

    Scale: same shape as every partial-agg kernel here — per-batch
    Arrow compute (SIMD kernels), then one tiny per-source groupBy.
    Oracle: length() vs strlen() in DuckDB."""
    d = load_spread(spark, sf_dir, "documents", "doc_id").select("source", "text")
    per_doc = d.mapInArrow(
        _byte_stat_batches, "source string, n_chars_doc long, n_bytes_doc long"
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_doc").alias("sum_chars"),
            F.sum("n_bytes_doc").alias("sum_bytes"),
        )
        .orderBy("source")
    )


_ARROW_BYTES_SQL = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes
FROM documents
GROUP BY source
ORDER BY source
"""

@udtf(
    returnType="source: string, n_docs: bigint, total_chars: bigint,"
    " first_doc: bigint, max_chars: bigint"
)
class SourceProfile:
    """Python UDTF consuming a TABLE argument: with
    ``PARTITION BY source ORDER BY doc_id`` Spark routes each
    source's rows (in doc_id order) through one UDTF instance —
    ``eval`` accumulates, ``terminate`` emits the partition summary.
    This is the grouped-UDTF face `ChunkDocument` (scalar-args,
    row-per-call) doesn't cover: per-group sequential Python state
    with the GROUPING DONE BY THE ENGINE, the UDTF twin of
    ``applyInPandas`` grouped-map."""

    def __init__(self) -> None:
        self.src = None
        self.n = 0
        self.chars = 0
        self.first_doc = None
        self.max_chars = 0

    def eval(self, row) -> None:
        self.src = row["source"]
        self.n += 1
        c = len(row["text"])
        self.chars += c
        self.max_chars = max(self.max_chars, c)
        if self.first_doc is None:  # ORDER BY doc_id => first = min
            self.first_doc = row["doc_id"]

    def terminate(self) -> Iterator[tuple]:
        yield self.src, self.n, self.chars, self.first_doc, self.max_chars


def udtf_table_arg_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 UDTF TABLE argument with PARTITION BY / ORDER BY —
    engine-partitioned per-group Python accumulation (see
    SourceProfile). One source-keyed exchange, one UDTF instance per
    group, bounded state. The oracle is the plain SQL rollup the
    accumulator reimplements — equality proves the partition routing
    delivered every row exactly once and the ORDER BY made first_doc
    the min."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("source_profile", SourceProfile)
    return spark.sql(
        """
        SELECT * FROM source_profile(TABLE(documents) PARTITION BY source ORDER BY doc_id)
        ORDER BY source
        """
    )


_TABLE_ARG_SQL = """
SELECT source, count(*)::BIGINT AS n_docs, sum(length(text))::BIGINT AS total_chars,
       min(doc_id)::BIGINT AS first_doc, max(length(text))::BIGINT AS max_chars
FROM documents GROUP BY source ORDER BY source
"""


QUERIES = (
    (pandas_udf_text_scores, _PANDAS_UDF_SQL),
    (udtf_document_chunks, _UDTF_SQL),
    (pandas_udaf_gini_acctbal, _UDAF_SQL),
    (udtf_polymorphic_doc_stats, _POLY_UDTF_SQL),
    (arrow_doc_byte_stats, _ARROW_BYTES_SQL),
    (udtf_table_arg_source_profile, _TABLE_ARG_SQL),
)
