"""Verbatim shared-span detection — the exact-substring dedup face
(the job suffix-array pipelines à la "Deduplicating Training Data
Makes Language Models Better" do): for every document pair, the
LONGEST run of consecutive tokens they share verbatim, reported when
it reaches quote length. Catches copy-paste and quotation overlap
that set-similarity (Jaccard/MinHash) under-weights and sampled
fingerprints (winnowing) only witness probabilistically.
[beyond-reference] surface (SURVEY.md §2.2, LLM-pipeline family).

Relational construction — no suffix array needed:
  1. every stride-1 window of RUN_W tokens, hashed → (doc, pos, whash)
  2. stop-window cap: window hashes seen > RUN_CAP times are dropped
     (boilerplate guard — bounds the join by Σ min(df, cap)²,
     the same discipline as dedup_ngram_jaccard's MAX_SHINGLE_DF)
  3. equi-join on whash (doc_a < doc_b) → matching positions (pa, pb)
  4. consecutive matches lie on one DIAGONAL (pa − pb constant):
     gaps-and-islands per (pair, diagonal) — island id =
     pa − row_number() — turns each maximal run of consecutive
     matching windows into one group; token run length =
     windows_in_island + RUN_W − 1.

Scale: step 1 shuffles O(total tokens) small rows; step 3 is an
inverted-index join (never all-pairs); step 4's windows partition by
(pair, diagonal) — state is one island counter per partition. The
oracle replays the identical pipeline in SQL, so hash equality also
certifies the islands algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load_spread
from .hashing import h32, h32_sql

RUN_W = 8           # window width (tokens) — minimum detectable run
RUN_CAP = 50        # stop-window document-frequency cap
MIN_RUN_TOKENS = 16  # report runs at least this long


def _windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= RUN_W, F.sequence(F.lit(0), F.size(words) - RUN_W)
    ).otherwise(F.array().cast("array<int>"))
    w = docs.select("doc_id", words.alias("words"), F.explode(idx).alias("pos"))
    return w.select(
        "doc_id",
        "pos",
        h32(F.concat_ws(" ", F.slice(F.col("words"), F.col("pos") + 1, RUN_W))).alias(
            "whash"
        ),
    )


def dedup_longest_shared_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _windowed(spark, sf_dir)
    # stop-window cap rides the same shuffle as the join key
    cap_w = Window.partitionBy("whash")
    # Lazy checkpoint: the capped window-hash relation feeds BOTH
    # sides of the self-join, and the captured plan showed the full
    # split+hash+window chain executing twice per cycle with no
    # exchange reuse (guide §1.2: one materialization, two readers).
    w = (
        w.withColumn("_df", F.count(F.lit(1)).over(cap_w))
        .filter(F.col("_df") <= RUN_CAP)
        .drop("_df")
        .localCheckpoint(eager=False)
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "whash"
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "whash"
    )
    m = a.join(b, "whash").filter(F.col("doc_a") < F.col("doc_b"))
    diag = m.withColumn("diag", F.col("pa") - F.col("pb"))
    iw = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = (
        diag
        # duplicate (pa) per diagonal can arise from repeated text;
        # distinct first so row_number steps match position steps
        .select("doc_a", "doc_b", "diag", "pa")
        .distinct()
        .withColumn("island", F.col("pa") - F.row_number().over(iw))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg((F.count(F.lit(1)) + F.lit(RUN_W - 1)).alias("run_tokens"))
    )
    return (
        islands.groupBy("doc_a", "doc_b")
        .agg(
            F.max("run_tokens").alias("longest_run_tokens"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .filter(F.col("longest_run_tokens") >= MIN_RUN_TOKENS)
        .orderBy("doc_a", "doc_b")
    )


_RUNS_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
w AS (
  SELECT doc_id, j - 1 AS pos,
         {h32_sql(f"array_to_string(words[j:j + {RUN_W - 1}], ' ')")} AS whash
  FROM t, UNNEST(range(1, len(words) - {RUN_W} + 2)) AS r(j)
),
capped AS (
  SELECT * FROM (
    SELECT doc_id, pos, whash, count(*) OVER (PARTITION BY whash) AS _df FROM w
  ) WHERE _df <= {RUN_CAP}
),
m AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, a.pos - b.pos AS diag
  FROM capped a JOIN capped b ON a.whash = b.whash AND a.doc_id < b.doc_id
),
islands AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
           AS island
  FROM m
),
runs AS (
  SELECT doc_a, doc_b, diag, island,
         count(*) + {RUN_W - 1} AS run_tokens
  FROM islands GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b,
       CAST(max(run_tokens) AS BIGINT) AS longest_run_tokens,
       count(*) AS n_runs
FROM runs
GROUP BY doc_a, doc_b
HAVING max(run_tokens) >= {MIN_RUN_TOKENS}
ORDER BY doc_a, doc_b
"""


QUERIES = ((dedup_longest_shared_run, _RUNS_SQL),)
