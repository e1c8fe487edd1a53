"""Corpus hygiene: benchmark decontamination + repetition detection.

[beyond-reference] training-data-pipeline surface. Two checks every
pretraining corpus needs before a token is trained on:

- ``decontaminate_train_test``: which train-split documents share
  4-word shingles with the held-out test split (n-gram overlap is
  the standard benchmark-contamination test). Composes with the
  hash-deterministic split from ``sampling.py`` — the same bucket
  function, so "test set" here is exactly the set
  ``split_train_val_test`` calls test.
- ``text_repetition_stats``: intra-document repeated-shingle ratio
  (the Gopher-style boilerplate/spam signal) — a document whose
  3-gram stream is mostly duplicates is a template, not prose.

Scale: the test/benchmark side of decontamination is tiny relative
to the corpus (here 10%, in production a few MB of benchmarks), so
it broadcasts — the 100 TB train side is never shuffled for the
join; the only shuffle is the per-doc rollup of matches, keyed on a
32-bit shingle hash (small rows). Repetition stats shuffle the
hashed shingle stream once for the per-(doc,shingle) count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load, load_spread
from .hashing import h32, h32_sql, word_shingles, word_shingles_sql
from .sampling import _SPLIT_BUCKET_SQL, _split_bucket

DECONTAM_N = 4  # words per shingle for cross-split overlap
REP_N = 3  # words per shingle for intra-doc repetition


def decontaminate_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-split documents that share ≥1 distinct 4-gram with any
    test-split document, with overlap strength. Test shingles build
    from a separate scan lineage (HOF-lambda projections break plan
    dedup on self-joins — see similarity.py) and broadcast."""
    words = F.split(F.col("text"), " ")
    shingles = word_shingles(words, DECONTAM_N)

    test_sh = (
        load(spark, sf_dir, "documents")
        .where(_split_bucket(F.col("doc_id")) >= 90)
        .select(F.explode(shingles).alias("shingle"))
        .select(h32(F.col("shingle")).alias("s"))
        .distinct()
    )
    train = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .where(_split_bucket(F.col("doc_id")) < 80)
        .select(
            "doc_id",
            F.size(shingles).alias("n_shingles"),
            F.explode(shingles).alias("shingle"),
        )
        .select("doc_id", "n_shingles", h32(F.col("shingle")).alias("s"))
    )
    return (
        train.join(F.broadcast(test_sh), "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count_distinct("s").alias("n_shared_shingles"))
        .select(
            "doc_id",
            "n_shingles",
            "n_shared_shingles",
            (F.col("n_shared_shingles") / F.col("n_shingles")).alias(
                "contamination_ratio"
            ),
        )
        .orderBy("doc_id")
    )


_SHINGLES = word_shingles_sql("string_split(text, ' ')", DECONTAM_N)

_DECONTAM_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket, {_SHINGLES} AS shingles
  FROM documents
),
test_sh AS (
  SELECT DISTINCT {h32_sql("s")} AS s
  FROM (SELECT unnest(shingles) AS s FROM d WHERE bucket >= 90)
),
train AS (
  SELECT doc_id, len(shingles) AS n_shingles, {h32_sql("s")} AS s
  FROM (SELECT doc_id, shingles, unnest(shingles) AS s FROM d WHERE bucket < 80)
)
SELECT doc_id, n_shingles,
       count(DISTINCT s)::BIGINT AS n_shared_shingles,
       count(DISTINCT s) * 1.0 / n_shingles AS contamination_ratio
FROM train JOIN test_sh USING (s)
GROUP BY doc_id, n_shingles
ORDER BY doc_id
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-shingle ratio per document. Shingles here are NOT
    deduplicated — repetition is the signal. The hashed shingle
    stream is shuffled once on (doc_id, hash); everything after is
    integer arithmetic."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split(F.col("text"), " ")
    # distinct=False: repetition is the signal; the helper also
    # carries the short-doc guard (an inline sequence(0, size-n)
    # would crash on a sub-REP_N-word document)
    all_shingles = word_shingles(words, REP_N, distinct=False)
    exploded = docs.select(
        "doc_id",
        F.size(all_shingles).alias("n_shingles"),
        F.explode(all_shingles).alias("shingle"),
    ).select("doc_id", "n_shingles", h32(F.col("shingle")).alias("s"))
    per_shingle = exploded.groupBy("doc_id", "n_shingles", "s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dup_ratio = (F.col("n_shingles") - F.col("n_distinct_shingles")) / F.col(
        "n_shingles"
    )
    return (
        per_shingle.groupBy("doc_id", "n_shingles")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_shingles"),
            F.max("cnt").alias("max_shingle_freq"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_distinct_shingles",
            "max_shingle_freq",
            dup_ratio.alias("dup_shingle_ratio"),
            F.when(dup_ratio > 0.2, "repetitive").otherwise("ok").alias("verdict"),
        )
        .orderBy("doc_id")
    )


_REP_SHINGLES = (
    f"list_transform(range(1, len(string_split(text, ' ')) - {REP_N - 2}), "
    f"j -> array_to_string(string_split(text, ' ')[j:j+{REP_N - 1}], ' '))"
)

_REPETITION_SQL = f"""
WITH e AS (
  SELECT doc_id, len(shingles) AS n_shingles, {h32_sql("s")} AS s
  FROM (SELECT doc_id, {_REP_SHINGLES} AS shingles,
               unnest({_REP_SHINGLES}) AS s
        FROM documents)
),
c AS (
  SELECT doc_id, n_shingles, s, count(*) AS cnt
  FROM e GROUP BY doc_id, n_shingles, s
),
m AS (
  SELECT doc_id, n_shingles,
         count(*)::BIGINT AS n_distinct_shingles,
         max(cnt)::BIGINT AS max_shingle_freq
  FROM c GROUP BY doc_id, n_shingles
)
SELECT doc_id, n_shingles, n_distinct_shingles, max_shingle_freq,
       (n_shingles - n_distinct_shingles) * 1.0 / n_shingles AS dup_shingle_ratio,
       CASE WHEN (n_shingles - n_distinct_shingles) * 1.0 / n_shingles > 0.2
            THEN 'repetitive' ELSE 'ok' END AS verdict
FROM m
ORDER BY doc_id
"""


GOPHER_TOP_MAX_N = 4     # n = 2..4: top n-gram char fraction
GOPHER_MAX_N = 10        # n = 5..10: duplicated n-gram char fraction


def gopher_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher repetition table (Rae et al. 2021, Table A1):
    per document, for n = 2..4 the per-mille of characters covered by
    the single most frequent word n-gram (count x gram length /
    doc chars), and for n = 5..10 the per-mille covered by ALL
    duplicated n-grams (occurrences counted, overlaps NOT unioned —
    the convention production filters use, so values can exceed 1000
    on degenerate text). `text_repetition_stats` is the single-size
    screen; this is the 9-row-per-doc profile the paper thresholds.

    One generator builds every (n, gram) pair in a single explode
    (flatten of a nested transform — 9 gram streams, one pass), one
    (doc, n, hash, len) count, one doc rollup. Grams are counted by
    (h32, length) instead of text — the `text_repetition_stats`
    convention: the shuffle carries ~24 fixed bytes per gram instead
    of the gram string (up to ~65 chars at n=10), and the oracle
    applies the IDENTICAL md5-prefix hash, so any h32 collision
    collapses the same rows in both engines. Determinism: the top
    gram tie-breaks on (count DESC, hash ASC, len ASC) via one
    min-of-struct aggregate — no window, no regroup. All-integer
    per-mille output.

    Scale: the gram shuffle is the cost center at ~9 rows per corpus
    word; (doc_id, n, h, len)-keyed partial aggregation collapses
    repeats map-side — exactly the repetitive documents the profile
    exists to catch shrink their own shuffle volume.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    # `words` is projected ONCE per document before the generator; the
    # previous form inlined split(text, ' ') inside the nested lambda,
    # where codegen re-split the document per (n, i) gram — ~9 splits
    # per corpus word. The short-doc guard gram (the greatest(…, 1)
    # sentinel) is likewise dropped on the precomputed word count
    # instead of re-splitting every GRAM STRING to measure its length
    # (guide §1.2: per-task work — don't recompute what a projection
    # can carry).
    grams = (
        docs.select(
            "doc_id",
            F.length("text").alias("doc_chars"),
            F.split(F.col("text"), " ").alias("words"),
        )
        .select(
            "doc_id",
            "doc_chars",
            F.size("words").alias("n_words"),
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(2, {GOPHER_MAX_N}), n ->"
                    " transform(sequence(1, greatest(size(words) - n + 1, 1)),"
                    " i -> struct(n AS n, array_join(slice(words, i, n), ' ') AS gram))))"
                )
            ).alias("g"),
        )
        # the guard emits exactly one short gram (i = 1) for docs with
        # fewer than n words; n_words >= n keeps precisely the grams
        # DuckDB's empty range() lateral produces
        .filter(F.col("n_words") >= F.col("g.n"))
        .select(
            "doc_id",
            "doc_chars",
            F.col("g.n").alias("n"),
            h32(F.col("g.gram")).alias("h"),
            F.length("g.gram").alias("len"),
        )
    )
    counts = grams.groupBy("doc_id", "doc_chars", "n", "h", "len").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # top gram = min over struct(-cnt, h, len): largest count first,
    # deterministic hash tie-break — ONE fully-mutable-buffer
    # (doc, n) aggregate instead of a window + regroup
    stats = counts.groupBy("doc_id", "doc_chars", "n").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"), F.col("h").alias("th"), F.col("len").alias("tl")
            )
        ).alias("top"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.col("len")).otherwise(F.lit(0))
        ).alias("dup_chars"),
    )
    return stats.select(
        "doc_id",
        "n",
        F.when(F.col("n") <= GOPHER_TOP_MAX_N, F.lit("top_ngram_pm"))
        .otherwise(F.lit("dup_ngram_pm"))
        .alias("metric"),
        F.expr(
            f"CASE WHEN n <= {GOPHER_TOP_MAX_N}"
            " THEN 1000 * (-top.nc) * top.tl div doc_chars"
            " ELSE 1000 * dup_chars div doc_chars END"
        ).cast("bigint").alias("pm"),
    ).orderBy("doc_id", "n")


_GOPHER_SQL = f"""
WITH w AS (SELECT doc_id, length(text) AS doc_chars, string_split(text, ' ') AS words
           FROM documents),
grams AS (
  SELECT doc_id, doc_chars, n.n AS n,
         array_to_string(list_slice(words, i.i, i.i + n.n - 1), ' ') AS gram
  FROM w, unnest(range(2, {GOPHER_MAX_N + 1})) AS n(n),
       unnest(range(1, len(words) - n.n + 2)) AS i(i)
),
hashed AS (
  SELECT doc_id, doc_chars, n, {h32_sql('gram')} AS h, length(gram) AS len
  FROM grams
),
counts AS (
  SELECT doc_id, doc_chars, n, h, len, count(*) AS cnt
  FROM hashed GROUP BY doc_id, doc_chars, n, h, len
),
mc AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, h, len) AS rk
  FROM counts
),
stats AS (
  SELECT doc_id, doc_chars, n,
         min(CASE WHEN rk = 1 THEN cnt END) AS max_cnt,
         min(CASE WHEN rk = 1 THEN len END) AS top_len,
         sum(CASE WHEN cnt >= 2 THEN cnt * len ELSE 0 END) AS dup_chars
  FROM mc GROUP BY doc_id, doc_chars, n
)
SELECT doc_id, n,
       CASE WHEN n <= {GOPHER_TOP_MAX_N} THEN 'top_ngram_pm' ELSE 'dup_ngram_pm' END AS metric,
       (CASE WHEN n <= {GOPHER_TOP_MAX_N}
             THEN 1000 * max_cnt * top_len
             ELSE 1000 * dup_chars END // doc_chars)::BIGINT AS pm
FROM stats
ORDER BY doc_id, n
"""


QUERIES = (
    (decontaminate_train_test, _DECONTAM_SQL),
    (text_repetition_stats, _REPETITION_SQL),
    (gopher_repetition_profile, _GOPHER_SQL),
)
