"""Corpus-drift and ranking-agreement diagnostics over ``documents``
— the round-9 LLM-pipeline batch: per-source Wasserstein length
drift, rank-biased overlap between two document orderings, and the
Gini concentration of the token vocabulary.

[beyond-reference] per SURVEY.md §2.2: the reference
(antonylucas/rdbms-metadata-manager, app.py) has no corpus surface;
these close drift-monitoring gaps the existing LLM faces leave open —
[[drift_event_type_shares]] compares categorical SHARES and
[[cross_source_dup_matrix]] compares CONTENT;
[[wasserstein_source_length_drift]] compares each source's length
DISTRIBUTION against the corpus in interpretable units (expected
chars of transport — the earth-mover metric data-mix monitors use);
[[quality_scorer_agreement]] scores binary verdict agreement,
[[rbo_scorer_rankings]] scores the ORDER two rankers impose on the
same corpus with Webber's rank-biased overlap (top-weighted, the
retrieval-ops standard for "did the reranker change the head?");
[[zipf_rank_frequency_audit]] fits the vocabulary's power-law slope,
[[vocab_gini_concentration]] reduces the same curve to the single
Lorenz/Gini number dashboards track (and [[gini_revenue_exact]]'s
doctrine applies: exact integer Lorenz sums, never float quantiles).

Determinism doctrine: exact integer sufficient statistics; fixed
literal weight tables for the geometric RBO weights (Python float
repr round-trips to the identical IEEE double in both engines); every
open-ended float sum per-term micro-floored before an exact integer
sum; unbounded-cardinality prefix sums ride the range kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load, load_spread
from ..queries.prefix import one_group, ranged_prefix


# --------------------------------------------------------------------------
# wasserstein_source_length_drift
# --------------------------------------------------------------------------


def wasserstein_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between each source's
    document-length distribution and the whole corpus's, in micro
    character units: W₁(F_s, F) = Σ_gaps |F_s(x) − F(x)|·Δx over the
    corpus length support — "how many characters of mass transport
    does it take to turn this source's length profile into the
    corpus profile". The interpretable-units drift gate a data-mix
    pipeline runs per ingest source: a source drifting long/short
    moves W₁ linearly, where share-based drift faces
    ([[drift_event_type_shares]]) only see it after binning.

    Exactness: W₁ between empirical CDFs is EXACTLY the rectangle sum
    over the merged support; with A_i = source prefix count,
    C_i = corpus prefix count, each rectangle is
    |A_i·N − C_i·n_s|·gap_i / (n_s·N) — an exact integer ratio on
    DECIMAL(38,0)/HUGEINT reported in truncating micro-chars. No
    interpolation, no float CDFs.

    Scale: one (source, length)-keyed rollup over documents (the only
    raw pass). All remaining relations are bounded by
    |sources| × |length domain| — the per-source cumulative window
    partitions on source over its length histogram (domain-bounded,
    like the price-band kernels), the corpus cumulative and the gap
    lookup ride the distinct-length histogram (one_group sanctioned:
    the support is bounded by the length domain, not the corpus)."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "source", F.col("n_chars").cast("long").alias("len")
    )
    cell = docs.groupBy("source", "len").agg(F.count(F.lit(1)).alias("c"))
    cell = cell.localCheckpoint(eager=False)
    vals = (
        cell.groupBy("len")
        .agg(F.sum("c").alias("tc"))
        .withColumn(
            "nxt",
            F.lead("len").over(
                Window.partitionBy(one_group(F.col("len"))).orderBy("len")
            ),
        )
        .withColumn(
            "cum_all",
            F.sum("tc").over(
                Window.partitionBy(one_group(F.col("len")))
                .orderBy("len")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    srcs = cell.groupBy("source").agg(F.sum("c").alias("n_s"))
    n_tot = cell.agg(F.sum("c").alias("n_all"))
    grid = (
        srcs.crossJoin(vals.select("len", "nxt", "cum_all"))
        .join(cell, ["source", "len"], "left")
        .select(
            "source",
            "n_s",
            "len",
            "nxt",
            "cum_all",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    cums = grid.withColumn(
        "cum_s",
        F.sum("c").over(
            Window.partitionBy("source")
            .orderBy("len")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        cums.crossJoin(F.broadcast(n_tot))
        .filter(F.col("nxt").isNotNull())
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_s"),
            F.max("n_all").alias("n_all"),
            F.sum(
                F.expr(
                    "abs(CAST(cum_s AS DECIMAL(38,0)) * n_all"
                    "    - CAST(cum_all AS DECIMAL(38,0)) * n_s)"
                    " * (nxt - len)"
                )
            ).alias("w_num"),
        )
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_docs"),
            F.expr(
                "CAST((1000000 * w_num)"
                " div (CAST(n_s AS DECIMAL(38,0)) * n_all) AS BIGINT)"
            ).alias("w1_len_micro"),
        )
        .orderBy("source")
    )


_WASSERSTEIN_SQL = """
WITH cell AS (
  SELECT source, CAST(n_chars AS BIGINT) AS len, count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2
),
vals AS (
  SELECT len, sum(c)::BIGINT AS tc,
         lead(len) OVER (ORDER BY len) AS nxt,
         sum(sum(c)) OVER (ORDER BY len
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_all
  FROM cell GROUP BY len
),
srcs AS (SELECT source, sum(c)::BIGINT AS n_s FROM cell GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS n_all FROM cell),
grid AS (
  SELECT srcs.source, srcs.n_s, v.len, v.nxt, v.cum_all,
         coalesce(cell.c, 0) AS c
  FROM srcs CROSS JOIN vals v
  LEFT JOIN cell ON cell.source = srcs.source AND cell.len = v.len
),
cums AS (
  SELECT source, n_s, len, nxt, cum_all,
         sum(c) OVER (PARTITION BY source ORDER BY len
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_s
  FROM grid
)
SELECT source,
       max(n_s)::BIGINT AS n_docs,
       CAST((1000000 * sum(abs(cum_s::HUGEINT * n_all - cum_all::HUGEINT * n_s)
                           * (nxt - len)))
            // (max(n_s)::HUGEINT * max(n_all)) AS BIGINT) AS w1_len_micro
FROM cums, tot
WHERE nxt IS NOT NULL
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# rbo_scorer_rankings
# --------------------------------------------------------------------------

RBO_P = 0.9
RBO_DEPTH = 20


def _rbo_weight_case() -> str:
    """CASE over depth d with the literal geometric RBO weights
    (1−p)·p^(d−1); Python float repr round-trips to the identical
    IEEE double in both engines (the nDCG literal-discount lever)."""
    arms = " ".join(
        f"WHEN {d} THEN {(1.0 - RBO_P) * RBO_P ** (d - 1)!r}"
        for d in range(1, RBO_DEPTH + 1)
    )
    return f"CASE d {arms} END"


def rbo_scorer_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS 2010) between two
    document orderings — by byte length (n_chars) and by whitespace
    token count — at depths 1..RBO_DEPTH with p = 0.9:
    RBO@D = (1−p)·Σ_d p^(d−1)·|A_d ∩ B_d|/d. The top-weighted
    agreement curve retrieval ops track when a reranker, a tokenizer
    change, or a scorer swap might have reshuffled the HEAD of a
    ranking while the tail stays put (Kendall/Spearman weight all
    positions equally and miss exactly that). Byte-vs-token order
    agreement is the fertility question ([[tokenizer_fertility_report]])
    asked of the ranking instead of the ratio.

    Exactness: both top-D lists are exact (key DESC, doc_id) orders;
    the overlap at depth d is the exact integer
    X_d = #{docs: max(rank_A, rank_B) ≤ d}; each depth's geometric
    weight is a driver literal (see _rbo_weight_case), the per-depth
    term w_d·X_d/d is micro-floored before the prefix sum, and the
    cumulative RBO@d is an exact integer sum of those floors.

    Scale: two TakeOrdered top-D passes over the corpus (no global
    sort — the topk_orders doctrine); everything after runs on ≤ 2·D
    rows (one_group sanctioned)."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        F.length("text").alias("ka"),
        F.size(F.split(F.col("text"), " ")).alias("kb"),
    )
    wob = Window.partitionBy(one_group(F.col("doc_id")))

    def top(key: str, rank_name: str) -> DataFrame:
        return (
            docs.orderBy(F.col(key).desc(), "doc_id")
            .limit(RBO_DEPTH)
            .select(
                "doc_id",
                F.row_number()
                .over(wob.orderBy(F.col(key).desc(), "doc_id"))
                .alias(rank_name),
            )
        )

    both = top("ka", "ra").join(top("kb", "rb"), "doc_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    spine = spark.range(1, RBO_DEPTH + 1).select(F.col("id").alias("d"))
    xd = (
        spine.join(F.broadcast(both), F.expr("m <= d"), "left")
        .groupBy("d")
        .agg(F.sum(F.expr("CASE WHEN m IS NULL THEN 0 ELSE 1 END")).alias("x_d"))
    )
    term = (
        f"CAST(floor(1000000.0 * ({_rbo_weight_case()})"
        f" * CAST(x_d AS DOUBLE) / CAST(d AS DOUBLE)) AS BIGINT)"
    )
    return (
        xd.withColumn("term_micro", F.expr(term))
        .withColumn(
            "rbo_upto_micro",
            F.sum("term_micro").over(
                Window.partitionBy(one_group(F.col("d")))
                .orderBy("d")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select(
            F.col("d").cast("bigint").alias("depth"),
            F.col("x_d").cast("bigint").alias("overlap"),
            F.col("term_micro").cast("bigint").alias("term_micro"),
            F.col("rbo_upto_micro").cast("bigint").alias("rbo_upto_micro"),
        )
        .orderBy("depth")
    )


def _rbo_oracle() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, length(text) AS ka,
         len(string_split(text, ' ')) AS kb
  FROM documents
),
ta AS (
  SELECT doc_id, row_number() OVER (ORDER BY ka DESC, doc_id) AS ra
  FROM docs ORDER BY ka DESC, doc_id LIMIT {RBO_DEPTH}
),
tb AS (
  SELECT doc_id, row_number() OVER (ORDER BY kb DESC, doc_id) AS rb
  FROM docs ORDER BY kb DESC, doc_id LIMIT {RBO_DEPTH}
),
ab AS (
  SELECT greatest(ra, rb) AS m FROM ta JOIN tb USING (doc_id)
),
spine AS (SELECT CAST(d AS BIGINT) AS d FROM UNNEST(range(1, {RBO_DEPTH + 1})) t(d)),
xd AS (
  SELECT d, sum(CASE WHEN m IS NULL THEN 0 ELSE 1 END)::BIGINT AS x_d
  FROM spine LEFT JOIN ab ON m <= d
  GROUP BY d
),
terms AS (
  SELECT d, x_d,
         CAST(floor(1000000.0 * ({_rbo_weight_case()})
              * CAST(x_d AS DOUBLE) / CAST(d AS DOUBLE)) AS BIGINT) AS term_micro
  FROM xd
)
SELECT d AS depth, x_d AS overlap, term_micro,
       sum(term_micro) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS rbo_upto_micro
FROM terms
ORDER BY depth
"""


# --------------------------------------------------------------------------
# vocab_gini_concentration
# --------------------------------------------------------------------------


def vocab_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of the whitespace-token vocabulary: sort
    the vocabulary by frequency ascending and read the Lorenz-curve
    Gini G = 2·Σᵢ i·fᵢ/(V·T) − (V+1)/V — the single number that says
    how top-heavy token mass is (English web text ≈ 0.95+; a Gini
    that MOVES between ingests means the token distribution — and
    BPE merge behaviour, OOV rates, packing density — moved too).
    Reduces [[zipf_rank_frequency_audit]]'s whole rank-frequency
    curve to the dashboard scalar, with [[gini_revenue_exact]]'s
    exact-integer Lorenz doctrine applied to an UNBOUNDED relation.

    Exactness: token counts are exact; the frequency-ascending rank
    is total-ordered by (f, token); G's numerator
    2·Σ i·fᵢ − (V+1)·T and denominator V·T are exact
    DECIMAL(38,0)/HUGEINT integers reported as a truncating micro
    ratio (non-negative by the ascending sort). top1_pm rides along.

    Scale: one token-keyed rollup over the corpus (the only raw
    pass and the only corpus-sized shuffle); the vocabulary rank is
    the range-partitioned ``ranged_prefix`` kernel — the vocabulary
    is UNBOUNDED (grows with the corpus), so no one_group shortcut
    and no single-partition window anywhere."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ranked = ranged_prefix(vocab, [F.col("f"), F.col("tok")], rank_col="i")
    return ranked.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum(F.expr("CAST(f AS DECIMAL(38,0))")).alias("t"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * f")).alias("sif"),
        F.max("f").alias("maxf"),
    ).select(
        F.col("v").cast("bigint").alias("n_vocab"),
        F.col("t").cast("bigint").alias("n_tokens"),
        F.expr(
            "CASE WHEN v = 0 OR t = 0 THEN NULL ELSE"
            " CAST((1000000 * (2 * sif - (v + 1) * t))"
            "      div (CAST(v AS DECIMAL(38,0)) * t) AS BIGINT) END"
        ).alias("gini_micro"),
        F.expr(
            "CASE WHEN t = 0 THEN NULL ELSE"
            " CAST((1000 * CAST(maxf AS DECIMAL(38,0))) div t AS BIGINT) END"
        ).alias("top1_pm"),
    )


_VOCAB_GINI_SQL = """
WITH toks AS (
  SELECT t.tok FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
vocab AS (SELECT tok, count(*)::BIGINT AS f FROM toks GROUP BY tok),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f, tok) AS i FROM vocab
),
s AS (
  SELECT count(*)::BIGINT AS v, sum(f)::HUGEINT AS t,
         sum(i::HUGEINT * f) AS sif, max(f)::BIGINT AS maxf
  FROM ranked
)
SELECT v AS n_vocab, CAST(t AS BIGINT) AS n_tokens,
       CASE WHEN v = 0 OR t = 0 THEN NULL ELSE
         CAST((1000000 * (2 * sif - (v + 1) * t)) // (v::HUGEINT * t) AS BIGINT)
       END AS gini_micro,
       CASE WHEN t = 0 THEN NULL ELSE
         CAST((1000 * maxf::HUGEINT) // t AS BIGINT) END AS top1_pm
FROM s
"""


QUERIES = (
    (wasserstein_source_length_drift, _WASSERSTEIN_SQL),
    (rbo_scorer_rankings, _rbo_oracle()),
    (vocab_gini_concentration, _VOCAB_GINI_SQL),
)
