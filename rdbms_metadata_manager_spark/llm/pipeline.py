"""End-to-end training-data preparation pipeline.

The composition the individual operators exist for: raw documents →
quality filter → exact dedup → MinHash near-dup removal → token
chunking → partitioned parquet. This is what an LLM ingestion job
runs at 100 TB; every stage is one of this engine's oracle-checked
operators, and the driver-checkable query returns the per-stage
survivor counts so the WHOLE pipeline is hash-compared to DuckDB.

Stage order (fixed): quality gate first (cheapest, biggest cut),
then exact dedup (hash groupBy), then near-dup removal using the
corpus-wide MinHash pair list (drop the higher doc_id of each pair),
then chunking (Σ ceil(tokens/32) windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load_spread
from .dedup import _MINHASH_SQL, dedup_minhash_lsh
from .text import STOPWORDS, _sql_list
from .udfs import CHUNK_TOKENS

MIN_TOKENS = 20
MAX_STOPWORD_RATIO = 0.5


def _quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split("text", " ")
    n = F.size(words)
    stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return docs.select(
        "doc_id", "text", "lang", n.alias("n_tokens"), stop.alias("n_stop")
    ).filter((n >= MIN_TOKENS) & (stop / n <= MAX_STOPWORD_RATIO))


def pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-document survivor set with chunk counts."""
    quality = _quality_docs(spark, sf_dir)
    keepers = quality.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    exact = quality.join(keepers.select("doc_id"), "doc_id", "left_semi")
    near_dropped = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    return (
        exact.join(near_dropped, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(n_tokens + {CHUNK_TOKENS - 1}) div {CHUNK_TOKENS}").alias("n_chunks"),
        )
        .orderBy("doc_id")
    )


def pipeline_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: document counts after each stage + total chunks.
    The driver hash-compares this against the same pipeline in SQL —
    an end-to-end equivalence check over four composed operators."""
    docs_in = load_spread(spark, sf_dir, "documents", "doc_id").agg(
        F.count("*").alias("docs_in")
    )
    quality = _quality_docs(spark, sf_dir)
    n_quality = quality.agg(F.count("*").alias("after_quality"))
    keepers = quality.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    exact = quality.join(keepers.select("doc_id"), "doc_id", "left_semi")
    n_exact = exact.agg(F.count("*").alias("after_exact_dedup"))
    survivors = pipeline_survivors(spark, sf_dir)
    n_final = survivors.agg(
        F.count("*").alias("after_near_dedup"),
        F.sum("n_chunks").alias("total_chunks"),
    )
    return docs_in.crossJoin(n_quality).crossJoin(n_exact).crossJoin(n_final)


_PIPELINE_SQL = f"""
WITH quality AS (
  SELECT doc_id, text, lang,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
  WHERE len(string_split(text, ' ')) >= {MIN_TOKENS}
    AND len(list_filter(string_split(text, ' '),
                        x -> list_contains({_sql_list(STOPWORDS)}, x))) * 1.0
          / len(string_split(text, ' ')) <= {MAX_STOPWORD_RATIO}
),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
),
exact AS (
  SELECT q.* FROM quality q WHERE q.doc_id IN (SELECT doc_id FROM keepers)
),
near_dropped AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({_MINHASH_SQL})
),
survivors AS (
  SELECT e.doc_id, e.n_tokens,
         (e.n_tokens + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS} AS n_chunks
  FROM exact e
  WHERE e.doc_id NOT IN (SELECT doc_id FROM near_dropped)
)
SELECT (SELECT count(*) FROM documents)  AS docs_in,
       (SELECT count(*) FROM quality)    AS after_quality,
       (SELECT count(*) FROM exact)      AS after_exact_dedup,
       (SELECT count(*) FROM survivors)  AS after_near_dedup,
       CAST((SELECT sum(n_chunks) FROM survivors) AS BIGINT) AS total_chunks
"""


# Every source contributes at most this fraction of the MEAN source
# token mass — a relative cap stays non-vacuous at every scale factor
# (an absolute constant would stop biting as the corpus grows).
BUDGET_FRACTION = 0.9


def source_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-capped corpus selection: admit each source's documents
    in doc_id order until the source hits BUDGET_FRACTION × mean
    source token mass — the "no single domain dominates the mix" cap
    every corpus assembly applies before training.

    Scale: the per-source running sum rides the two-pass range kernel
    (``queries.prefix.ranged_prefix`` over the (source, doc_id) total
    order) — the earlier ``partitionBy(source)`` window put an entire
    source on one executor, which is exactly the mega-domain this
    operator exists to cap. The within-source cumsum is the kernel's
    global cumsum minus the source's exclusive start offset; because
    the kernel's order leads with source, that offset is simply the
    exclusive prefix sum of the PER-SOURCE TOTALS in source order —
    a ≤|sources| bounded relation (one one_group window, sanctioned),
    broadcast back. Everything (totals, the budget, the offsets)
    derives from ONE checkpointed per-source rollup instead of the
    three full-relation passes + source-keyed shuffle the r5 plan
    paid (the r7 tide audit traced this query's bench drift to pure
    stage-count floor: 5 shuffles on a rolled-up relation). Admission
    by cumulative tokens (not doc count) is deterministic given the
    doc_id order."""
    from ..queries.prefix import one_group, ranged_prefix

    # one checkpoint of the slim (doc_id, source, n_tokens) projection:
    # tokenizing the full text column is the unit cost here (~0.5 s per
    # pass at sf0.1), and the totals rollup + the range kernel's
    # sampler + exchange would otherwise each re-read and re-split it
    d = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select(
            "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
        )
        .localCheckpoint(eager=False)
    )
    # totals deliberately NOT checkpointed: its three consumers
    # re-derive it from the slim checkpoint for less than the job
    # barrier a second materialization costs (measured 1.71 vs 1.41 s)
    totals = d.groupBy("source").agg(F.sum("n_tokens").alias("total_tokens"))
    budget = totals.agg(
        (F.avg("total_tokens") * BUDGET_FRACTION).alias("budget")
    )
    w = (
        Window.partitionBy(one_group(F.col("source")))
        .orderBy("source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = totals.select(
        "source",
        "total_tokens",
        F.coalesce(F.sum("total_tokens").over(w), F.lit(0)).alias("_start"),
    )
    g = ranged_prefix(
        d, [F.col("source"), F.col("doc_id")], sum_cols=["n_tokens"]
    )
    kept = (
        g.join(F.broadcast(starts), "source")
        .withColumn("cum_tokens", F.col("cum_n_tokens") - F.col("_start"))
        .crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .groupBy("source", "total_tokens")
        .agg(F.count("*").alias("n_docs_kept"), F.sum("n_tokens").alias("n_tokens_kept"))
    )
    return (
        kept.select(
            "source",
            "n_docs_kept",
            "n_tokens_kept",
            (F.col("n_tokens_kept") < F.col("total_tokens")).alias("capped"),
        )
        .orderBy("source")
    )


_BUDGET_SQL = f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
b AS (
  SELECT avg(t) * {BUDGET_FRACTION} AS budget
  FROM (SELECT sum(n_tokens) AS t FROM d GROUP BY source)
),
cum AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM d
),
tot AS (SELECT source, sum(n_tokens) AS total_tokens FROM d GROUP BY source),
kept AS (
  SELECT c.source, count(*) AS n_docs_kept, sum(c.n_tokens) AS n_tokens_kept
  FROM cum c, b WHERE c.cum_tokens <= b.budget GROUP BY c.source
)
SELECT k.source, k.n_docs_kept, CAST(k.n_tokens_kept AS BIGINT) AS n_tokens_kept,
       (k.n_tokens_kept < t.total_tokens) AS capped
FROM kept k JOIN tot t ON k.source = t.source
ORDER BY k.source
"""


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix reweighting: per-source token share and the
    sampling weight that would equalize the mix (uniform target /
    actual share) — what a data-mixture scheduler consumes. Exact
    integer token counts; the two divisions run on identical operands
    in both engines."""
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    grand = per_source.agg(
        F.sum("n_tokens").alias("grand_tokens"),
        F.count("*").alias("n_sources"),
    )
    return (
        per_source.crossJoin(F.broadcast(grand))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens") / F.col("grand_tokens")).alias("token_share"),
            (
                F.col("grand_tokens")
                / (F.col("n_sources") * F.col("n_tokens"))
            ).alias("mix_weight"),
        )
        .orderBy("source")
    )


_MIX_SQL = """
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
per_source AS (
  SELECT source, count(*) AS n_docs, sum(n_tokens) AS n_tokens
  FROM d GROUP BY source
),
g AS (SELECT sum(n_tokens) AS grand_tokens, count(*) AS n_sources FROM per_source)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       n_tokens * 1.0 / grand_tokens                 AS token_share,
       grand_tokens * 1.0 / (n_sources * n_tokens)   AS mix_weight
FROM per_source, g
ORDER BY source
"""


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixture (the UniMax / multilingual-T5
    α=0.5 sampling shape): per-source sampling weights ∝ (token
    mass)^α, which upsamples tail sources relative to proportional
    sampling without letting any single giant source dominate —
    the standard fix for head-heavy web corpora.

    Exactness: α=0.5 is computed as ``floor(sqrt(n_tokens))`` — IEEE
    sqrt is correctly rounded in both engines over the same operand,
    so the floor is bit-identical, and everything downstream is
    integer arithmetic (ppm weights by integer division). Reported
    per source: the unnormalized weight, the normalized sampling
    weight in ppm, and the upsampling factor vs proportional
    sampling in per-mille (1000 = drawn at its natural rate).

    Scale: one groupBy(source) + a 1-row broadcast of the totals —
    the weight table is |sources| rows, consumed by the sampler as a
    broadcast, identical to ``source_mix_weights``. At 100 TB the
    only caveat is the ×1000 ppm products (cast through decimal if
    token counts approach 2^53)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    ).withColumn("sqrt_tokens", F.floor(F.sqrt("n_tokens")))
    totals = per_source.agg(
        F.sum("n_tokens").alias("grand_tokens"),
        F.sum("sqrt_tokens").alias("total_sqrt"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "sqrt_tokens",
            F.expr("sqrt_tokens * 1000000 div total_sqrt").alias("weight_ppm"),
            F.expr(
                "(sqrt_tokens * grand_tokens * 1000) div (total_sqrt * n_tokens)"
            ).alias("upsample_pm"),
        )
        .orderBy("source")
    )


_TEMPERATURE_SQL = """
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
per_source AS (
  SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
         floor(sqrt(sum(n_tokens)::BIGINT))::BIGINT AS sqrt_tokens
  FROM d GROUP BY source
),
t AS (
  SELECT sum(n_tokens)::BIGINT AS grand_tokens, sum(sqrt_tokens)::BIGINT AS total_sqrt
  FROM per_source
)
SELECT source, n_docs, n_tokens, sqrt_tokens,
       (sqrt_tokens * 1000000 // total_sqrt)::BIGINT AS weight_ppm,
       ((sqrt_tokens * grand_tokens * 1000) // (total_sqrt * n_tokens))::BIGINT AS upsample_pm
FROM per_source, t
ORDER BY source
"""


def corpus_overview_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-page dataset card: (metric, value) rows summarizing
    the corpus a data team pins on the wall — doc/token/char counts,
    language and source cardinality, exact-duplicate mass, and the
    near-dup pair count from the memoized MinHash pipeline. Every
    value is an exact integer, so the card hash-matches the oracle.

    Scale: one map-side-combined pass over documents for the scalar
    stats, one text-hash groupBy for exact dups (16-byte shuffle
    keys), and the near-dup count reads the memoized pair list —
    the composed report costs what its cheapest parts cost."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split(F.col("text"), " ")

    def melt(df, metrics: list[str]):
        return df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("metric"),
                            F.col(m).cast("bigint").alias("value"),
                        )
                        for m in metrics
                    ]
                )
            ).alias("kv")
        ).select("kv.metric", "kv.value")

    # The three legs UNION into the one output action instead of
    # stitching the 1-row relations through two broadcast-exchange
    # jobs (guide §1.2: fewer sequential driver barriers, same scans).
    # (A one-text-scan variant that folded the dup mass and the scalar
    # stats into a single md5 groupBy measured 1.22x in the r10
    # interleaved A/B — the wider (h, c, tok, chars) exchange lost to
    # the two map-side-only aggregates — and was reverted.)
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words)).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    dup_mass = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias(
                "exact_dup_docs"
            )
        )
    )
    near_dups = dedup_minhash_lsh(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("near_dup_pairs")
    )
    return (
        melt(base, ["n_docs", "n_tokens", "n_chars", "n_langs", "n_sources"])
        .unionAll(melt(dup_mass, ["exact_dup_docs"]))
        .unionAll(melt(near_dups, ["near_dup_pairs"]))
        .orderBy("metric")
    )


_OVERVIEW_SQL = f"""
WITH base AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
         sum(length(text))::BIGINT AS n_chars,
         count(DISTINCT lang)::BIGINT AS n_langs,
         count(DISTINCT source)::BIGINT AS n_sources
  FROM documents
),
dups AS (
  SELECT coalesce(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END), 0)::BIGINT
           AS exact_dup_docs
  FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
),
nd AS (
  SELECT count(*)::BIGINT AS near_dup_pairs FROM ({_MINHASH_SQL}) mh
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, n_docs AS value FROM base
  UNION ALL SELECT 'n_tokens', n_tokens FROM base
  UNION ALL SELECT 'n_chars', n_chars FROM base
  UNION ALL SELECT 'n_langs', n_langs FROM base
  UNION ALL SELECT 'n_sources', n_sources FROM base
  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM dups
  UNION ALL SELECT 'near_dup_pairs', near_dup_pairs FROM nd
) ORDER BY metric
"""


def mix_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size + design effect of the source-mix
    reweighting — the number that says what a weighted corpus is
    WORTH: applying [[source_mix_weights]]'s equalizing weights makes
    n documents carry the statistical information of only
    ESS = (Σwᵢ)²/Σwᵢ² of them (Kish), and deff = n·Σw²/(Σw)² is the
    variance inflation a reweighted estimate pays. The report every
    mixture review should read next to the weights themselves.

    Exactness: weights are integer per-mille
    ((1000·grand) div (n_sources·source_tokens), the same truncating
    ratio family as [[source_mix_weights]]); ESS and deff are emitted
    in exact integer milli-units via DECIMAL(38,0)/HUGEINT square
    products — no float anywhere.

    Scale: one corpus scan → per-source rollup; everything after
    runs on the ≤|sources| bounded relation."""
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("t")
    )
    g = per_source.agg(
        F.coalesce(F.sum("t"), F.lit(0)).alias("grand"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    weighted = per_source.crossJoin(F.broadcast(g)).select(
        "n_docs",
        F.expr(
            "CASE WHEN t = 0 THEN CAST(0 AS BIGINT) ELSE"
            " CAST((1000 * CAST(grand AS DECIMAL(38,0)))"
            " div (CAST(n_sources AS DECIMAL(38,0)) * t) AS BIGINT) END"
        ).alias("w_pm"),
        "n_sources",
    )
    return (
        weighted.agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
            F.first("n_sources").alias("n_sources"),
            F.coalesce(
                F.sum(F.expr("CAST(n_docs AS DECIMAL(38,0)) * w_pm")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s1"),
            F.coalesce(
                F.sum(F.expr("CAST(n_docs AS DECIMAL(38,0)) * w_pm * w_pm")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s2"),
        )
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("n_sources", F.lit(0)).cast("bigint").alias("n_sources"),
            F.expr(
                "CASE WHEN s2 = 0 THEN NULL ELSE"
                " CAST((1000 * s1 * s1) div s2 AS BIGINT) END"
            ).alias("ess_milli"),
            F.expr(
                "CASE WHEN s1 = 0 THEN NULL ELSE"
                " CAST((1000 * CAST(n_docs AS DECIMAL(38,0)) * s2)"
                " div (s1 * s1) AS BIGINT) END"
            ).alias("deff_milli"),
        )
    )


_ESS_SQL = """
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS t
  FROM d GROUP BY source
),
g AS (
  SELECT coalesce(sum(t), 0)::BIGINT AS grand, count(*)::BIGINT AS n_sources
  FROM per_source
),
weighted AS (
  SELECT n_docs,
         CASE WHEN t = 0 THEN CAST(0 AS BIGINT) ELSE
           CAST((1000 * grand::HUGEINT) // (n_sources::HUGEINT * t) AS BIGINT)
         END AS w_pm,
         n_sources
  FROM per_source, g
),
agg AS (
  SELECT coalesce(sum(n_docs), 0)::BIGINT AS n_docs,
         first(n_sources) AS n_sources,
         coalesce(sum(n_docs::HUGEINT * w_pm), 0) AS s1,
         coalesce(sum(n_docs::HUGEINT * w_pm * w_pm), 0) AS s2
  FROM weighted
)
SELECT n_docs, coalesce(n_sources, 0)::BIGINT AS n_sources,
       CASE WHEN s2 = 0 THEN NULL ELSE
         CAST((1000 * s1 * s1) // s2 AS BIGINT) END AS ess_milli,
       CASE WHEN s1 = 0 THEN NULL ELSE
         CAST((1000 * n_docs::HUGEINT * s2) // (s1 * s1) AS BIGINT) END
         AS deff_milli
FROM agg
"""


QUERIES = (
    (pipeline_stage_counts, _PIPELINE_SQL),
    (corpus_overview_report, _OVERVIEW_SQL),
    (source_token_budget_cap, _BUDGET_SQL),
    (source_mix_weights, _MIX_SQL),
    (corpus_temperature_mix, _TEMPERATURE_SQL),
    (mix_effective_sample_size, _ESS_SQL),
)
