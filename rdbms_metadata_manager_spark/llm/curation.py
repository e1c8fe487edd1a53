"""Corpus curation operators: sub-document dedup, a composite quality
gate, and exact-rational BM25 keyword retrieval.

[beyond-reference] three staples of an LLM training-data pipeline the
reference has no counterpart for:

- ``dedup_chunk_ratio`` — sub-document (passage-level) exact dedup in
  the C4/RefinedWeb "line dedup" style, adapted to this corpus's
  newline-free text: each doc is cut into consecutive 16-word chunks,
  chunks are hashed (md5 → narrow shuffle key instead of shuffling
  chunk text), global chunk frequency is computed with ONE window
  over the hash, and each doc reports what per-mille of its chunks
  also occur elsewhere in the corpus. Two shuffles total (chunk-hash,
  doc_id); no joins carry text payloads. At 100 TB the chunk-hash
  shuffle is the cost center — it is 16 bytes/chunk regardless of
  chunk text size, which is the point of hashing first.

- ``quality_filter_gate`` — a composite Gopher/C4-style keep/drop
  gate: word count bounds, mean-word-length band, single-word
  dominance cap, minimum stopword rate. Emits the per-doc metrics,
  the keep flag, and the FIRST failing rule name (the debugging
  affordance every filtering report needs). All-integer per-mille
  metrics — exact cross-engine. One explode+groupBy computes the
  dominance stat; everything else is per-row JVM expressions.

- ``bm25_keyword_search`` — BM25 top-k keyword retrieval with a
  RATIONAL scoring variant: the log in the classic idf is replaced
  by its argument ((N - df + ½)/(df + ½), scaled by 2 to stay
  integral), which is monotone in the same quantity, so per-term
  ranking is identical to BM25's — and the whole score becomes a
  ratio of two int64s, bit-identical across engines (logarithms are
  libm-dependent; see ranking.py). With k1 = 6/5, b = 3/4 the
  per-term score is exactly

      score = 22·W·tf·(2N − 2·df + 1)
              ───────────────────────────────────
              (10·W·tf + 3·W + 9·dl·N)·(2·df + 1)

  where W = Σ dl (total corpus words), N = #docs, dl = doc length,
  tf = term frequency. The output carries (score_num, score_den) as
  integers — the hash-compared columns never touch a float; the
  float division is used ONLY to order, on identical operands in
  both engines. Corpus stats (N, W, df) are 1-row/tiny broadcasts;
  the per-term candidate set is tf > 0 docs only (inverted-index
  semantics); top-10 per term via one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..queries.base import load_spread

CHUNK_WORDS = 16

# quality gate thresholds (per-mille where applicable), ordered — the
# first failing rule is the one reported.
MIN_WORDS, MAX_WORDS = 20, 10_000
MIN_MWL_PM, MAX_MWL_PM = 3_000, 6_000
MAX_TOP_WORD_PM = 150
MIN_STOP_PM = 5

BM25_TERMS = ("hash", "join", "spark")
BM25_TOPK = 10


def dedup_chunk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    chunks = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, (size(split(text, ' ')) + {CHUNK_WORDS - 1}) div {CHUNK_WORDS}),"
                f" i -> md5(array_join(slice(split(text, ' '), (i - 1) * {CHUNK_WORDS} + 1, {CHUNK_WORDS}), ' ')))"
            )
        ).alias("chunk_hash"),
    )
    freq = chunks.withColumn("freq", F.count("*").over(Window.partitionBy("chunk_hash")))
    return (
        freq.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("freq") > 1).alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            F.expr("dup_chunks * 1000 div n_chunks").alias("dup_pm"),
        )
        .orderBy("doc_id")
    )


_CHUNK_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(words, (i - 1) * {CHUNK_WORDS} + 1, i * {CHUNK_WORDS}), ' ')) AS chunk_hash
  FROM w, unnest(range(1, (len(words) + {CHUNK_WORDS} - 1) // {CHUNK_WORDS} + 1)) AS t(i)
),
freq AS (SELECT doc_id, count(*) OVER (PARTITION BY chunk_hash) AS freq FROM chunks)
SELECT doc_id, count(*) AS n_chunks,
       count(*) FILTER (WHERE freq > 1) AS dup_chunks,
       count(*) FILTER (WHERE freq > 1) * 1000 // count(*) AS dup_pm
FROM freq GROUP BY doc_id ORDER BY doc_id
"""


def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup REWRITE (C4/RefinedWeb shape): cut every
    doc into consecutive 16-word chunks, keep only the corpus-wide
    FIRST occurrence of each distinct chunk (smallest (doc_id, ord)),
    and reconstruct the cleaned text from the surviving chunks in
    their original order. ``dedup_chunk_ratio`` is the report face of
    this; this is the transform that actually edits the corpus —
    exact-duplicate docs come back empty, partially-quoted docs lose
    just the quoted passage.

    Plan: the ranking shuffle carries (doc_id, ord, md5) — 16 B/chunk
    regardless of text size; chunk TEXT never enters a shuffle. The
    kept ordinals fold to one array per doc, and the cleaned text is
    re-sliced from the original ``text`` column after a doc_id-keyed
    join (a second scan lineage, not a cached text payload). At
    100 TB: one narrow hash shuffle + one doc-keyed join, both
    key-partitioned; the transform/slice reconstruction is per-row
    projection work.
    """
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, (size(split(text, ' ')) + {CHUNK_WORDS - 1}) div {CHUNK_WORDS}),"
                f" i -> md5(array_join(slice(split(text, ' '), (i - 1) * {CHUNK_WORDS} + 1, {CHUNK_WORDS}), ' ')))"
            )
        ).alias("pos", "chunk_hash"),
    ).select("doc_id", (F.col("pos") + 1).alias("ord"), "chunk_hash")
    first = Window.partitionBy("chunk_hash").orderBy("doc_id", "ord")
    kept = (
        chunks.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("ord")).alias("kept_ords"),
            F.count("*").alias("n_kept"),
        )
    )
    # fresh scan lineage for the reconstruction join (HOF-projection
    # self-join lineage trap; see ROADMAP invariants)
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    n_chunks = F.expr(f"(size(split(text, ' ')) + {CHUNK_WORDS - 1}) div {CHUNK_WORDS}").cast("bigint")
    return (
        docs.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            n_chunks.alias("n_chunks"),
            (n_chunks - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint").alias("removed_chunks"),
            F.expr(
                f"array_join(transform(coalesce(kept_ords, array()),"
                f" i -> array_join(slice(split(text, ' '), (i - 1) * {CHUNK_WORDS} + 1, {CHUNK_WORDS}), ' ')), ' ')"
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


_CHUNK_REWRITE_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
chunks AS (
  SELECT doc_id, i AS ord,
         array_to_string(list_slice(words, (i - 1) * {CHUNK_WORDS} + 1, i * {CHUNK_WORDS}), ' ') AS chunk
  FROM w, unnest(range(1, (len(words) + {CHUNK_WORDS} - 1) // {CHUNK_WORDS} + 1)) AS t(i)
),
ranked AS (
  SELECT doc_id, ord, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, ord) AS rn
  FROM chunks
),
kept AS (
  SELECT doc_id,
         count(*) FILTER (WHERE rn = 1) AS n_kept,
         coalesce(string_agg(chunk, ' ' ORDER BY ord) FILTER (WHERE rn = 1), '') AS clean_text
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id,
       ((len(string_split(d.text, ' ')) + {CHUNK_WORDS - 1}) // {CHUNK_WORDS})::BIGINT AS n_chunks,
       ((len(string_split(d.text, ' ')) + {CHUNK_WORDS - 1}) // {CHUNK_WORDS}
        - coalesce(k.n_kept, 0))::BIGINT AS removed_chunks,
       coalesce(k.clean_text, '') AS clean_text
FROM documents d LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


def _doc_features(d: DataFrame) -> DataFrame:
    """Per-document per-mille text features SHARED by the rule-
    cascade gate and the classifier scorer (one definition so the
    feature semantics cannot drift between them): n_words,
    mean_wlen_pm, stop_pm, top_c, top_word_pm.

    length()/size() are Int32 in Spark; the × 1000 per-mille scaling
    must happen in 64-bit or a >2.1M-char document silently wraps
    negative (DuckDB's len() is BIGINT, so the oracle would not)."""
    base = d.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n_words"),
        F.expr(
            "(cast(length(text) AS BIGINT) - (size(split(text, ' ')) - 1)) * 1000"
            " div size(split(text, ' '))"
        ).alias("mean_wlen_pm"),
        F.expr(
            "cast(size(filter(split(text, ' '), x -> x = 'the' OR x = 'a')) AS BIGINT) * 1000"
            " div size(split(text, ' '))"
        ).alias("stop_pm"),
    )
    top = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return base.join(top, "doc_id").withColumn(
        "top_word_pm", F.expr("top_c * 1000 div n_words")
    )


def quality_filter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    first_fail = F.expr(
        f"CASE WHEN n_words < {MIN_WORDS} OR n_words > {MAX_WORDS} THEN 'n_words' "
        f"WHEN mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM} THEN 'word_len' "
        f"WHEN top_word_pm > {MAX_TOP_WORD_PM} THEN 'dominance' "
        f"WHEN stop_pm < {MIN_STOP_PM} THEN 'stopword' ELSE '' END"
    )
    return (
        scored.select(
            "doc_id",
            "n_words",
            "mean_wlen_pm",
            "top_word_pm",
            "stop_pm",
            first_fail.alias("first_fail"),
        )
        .withColumn("keep", F.col("first_fail") == "")
        .orderBy("doc_id")
    )


# Oracle twin of _doc_features — shared by _GATE_SQL and _QC_SQL so
# the SQL features can't drift from each other either.
_DOC_FEATURES_CTES = """w AS (SELECT doc_id, string_split(text, ' ') AS words, text FROM documents),
base AS (
  SELECT doc_id, len(words) AS n_words,
         (length(text) - (len(words) - 1)) * 1000 // len(words) AS mean_wlen_pm,
         len(list_filter(words, x -> x = 'the' OR x = 'a')) * 1000 // len(words) AS stop_pm
  FROM w
),
top AS (
  SELECT doc_id, max(c) AS top_c
  FROM (SELECT doc_id, word, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY 1, 2)
  GROUP BY 1
),
scored AS (
  SELECT base.*, top_c, top_c * 1000 // n_words AS top_word_pm
  FROM base JOIN top USING (doc_id)
)"""


_GATE_SQL = f"""
WITH {_DOC_FEATURES_CTES}
SELECT doc_id, n_words, mean_wlen_pm, top_word_pm, stop_pm,
       CASE WHEN n_words < {MIN_WORDS} OR n_words > {MAX_WORDS} THEN 'n_words'
            WHEN mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM} THEN 'word_len'
            WHEN top_word_pm > {MAX_TOP_WORD_PM} THEN 'dominance'
            WHEN stop_pm < {MIN_STOP_PM} THEN 'stopword' ELSE '' END AS first_fail,
       CASE WHEN n_words < {MIN_WORDS} OR n_words > {MAX_WORDS} THEN false
            WHEN mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM} THEN false
            WHEN top_word_pm > {MAX_TOP_WORD_PM} THEN false
            WHEN stop_pm < {MIN_STOP_PM} THEN false ELSE true END AS keep
FROM scored ORDER BY doc_id
"""


def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    doc_len = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    terms = list(BM25_TERMS)
    tf = (
        words.filter(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    stats = doc_len.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_words")
    )
    scored = (
        tf.join(doc_len, "doc_id")
        .join(F.broadcast(df_), "word")
        .join(F.broadcast(stats))
        .select(
            F.col("word").alias("term"),
            "doc_id",
            "tf",
            F.expr("CAST(22 * total_words * tf * (2 * n_docs - 2 * df + 1) AS BIGINT)").alias(
                "score_num"
            ),
            F.expr(
                "CAST((10 * total_words * tf + 3 * total_words + 9 * dl * n_docs) * (2 * df + 1) AS BIGINT)"
            ).alias("score_den"),
        )
    )
    # Two-level tournament top-k: a plain per-term window would pull
    # EVERY candidate of a term through one task (3 terms = 3 reducers
    # — df(term) rows each at 100 TB). Level 1 takes the top-k inside
    # (term, salt) buckets — any global top-k row is necessarily in
    # its bucket's top-k — level 2 ranks the ≤ k·SALTS survivors.
    order = [(F.col("score_num") * F.lit(1.0) / F.col("score_den")).desc(), F.col("doc_id")]
    salts = 32
    w1 = Window.partitionBy("term", F.pmod(F.hash("doc_id"), F.lit(salts))).orderBy(*order)
    w2 = Window.partitionBy("term").orderBy(*order)
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= BM25_TOPK)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("term", "rank", "doc_id", "tf", "score_num", "score_den")
        .orderBy("term", "rank")
    )


_BM25_SQL = f"""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
doc_len AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words
  WHERE word IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
  GROUP BY 1, 2
),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_words FROM doc_len),
scored AS (
  SELECT tf.word AS term, tf.doc_id, tf.tf,
         CAST(22 * total_words * tf * (2 * n_docs - 2 * df + 1) AS BIGINT) AS score_num,
         CAST((10 * total_words * tf + 3 * total_words + 9 * dl * n_docs) * (2 * df + 1) AS BIGINT) AS score_den
  FROM tf JOIN doc_len USING (doc_id) JOIN df USING (word) CROSS JOIN stats
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term ORDER BY score_num * 1.0 / score_den DESC, doc_id) AS rank
  FROM scored
)
SELECT term, rank, doc_id, tf, score_num, score_den
FROM ranked WHERE rank <= {BM25_TOPK}
ORDER BY term, rank
"""


# Linear quality-classifier weights (integer micro-units). Production
# quality filters (fastText-style) are trained OFFLINE and deployed
# as frozen weights; shipping them as literals over integer per-mille
# features makes the inference a single whole-stage-codegen
# projection with an engine-exact int64 score — the quantized-
# inference shape, no floats anywhere.
QC_W_STOP = 4          # stopword per-mille: higher = more natural text
QC_W_DOMINANCE = -3    # top-word per-mille: repetition penalty
QC_W_WLEN_DEV = -1     # |mean word len − 4.5 chars| per-mille, ÷4
QC_W_NWORDS = 6        # length reward
QC_BIAS = -100

# ONE source of truth for the scorer's weight formula and the rule
# gate's predicate, per dialect — every consumer (scores, agreement,
# AUC, gains curve) splices these, so a weight or bound change can't
# silently desynchronize one face from the others while each still
# matches its own oracle (the stats._anova_terms pattern).
CLF_SCORE_EXPR = (
    f"{QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm "
    f"+ {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) div 4) "
    f"+ {QC_W_NWORDS} * n_words + {QC_BIAS}"
)
CLF_SCORE_SQL = (
    f"{QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm"
    f" + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)"
    f" + {QC_W_NWORDS} * n_words + {QC_BIAS}"
)
# identical text in both dialects
RULE_KEEP_PRED = (
    f"NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}"
    f" OR mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM}"
    f" OR top_word_pm > {MAX_TOP_WORD_PM} OR stop_pm < {MIN_STOP_PM})"
)


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-inference stage of the curation pipeline: the
    weighted-feature score (vs quality_filter_gate's first-fail rule
    CASCADE — both shapes exist in real pipelines; Gopher uses rules,
    C4/fastText-style filters use a trained scorer). Integer fixed-
    point end to end, one corpus scan + the per-doc top-word rollup.
    Materialized once per (session, corpus): keep_best and the
    survivorship audit re-read the ≤|docs|-row score relation instead
    of re-running the full-text feature scan per call."""
    return memo.shared(
        spark,
        sf_dir,
        "quality_classifier_scores",
        lambda: _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
        .withColumn("score", F.expr(CLF_SCORE_EXPR))
        .select(
            "doc_id",
            "n_words",
            "stop_pm",
            "top_word_pm",
            "score",
            (F.col("score") >= 0).alias("accepted"),
        )
        .orderBy("doc_id")
        .localCheckpoint(eager=True),
    )


_QC_SQL = f"""
WITH {_DOC_FEATURES_CTES},
s AS (
  SELECT doc_id, n_words, stop_pm, top_word_pm,
         {QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm
           + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)
           + {QC_W_NWORDS} * n_words + {QC_BIAS} AS score
  FROM scored
)
SELECT doc_id, n_words::BIGINT AS n_words, stop_pm::BIGINT AS stop_pm,
       top_word_pm::BIGINT AS top_word_pm, score::BIGINT AS score,
       score >= 0 AS accepted
FROM s
ORDER BY doc_id
"""


def quality_scorer_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the linear quality scorer against the rule
    cascade's verdict — the threshold-FREE complement of
    [[quality_scorer_agreement]] (kappa grades the shipped cutoffs;
    AUC grades the scorer's ranking no matter where the cutoff
    lands, the number a filter-swap review actually argues about).
    AUC here IS the Mann–Whitney probability
    P(score_pos > score_neg) + ½P(tie), computed exactly from the
    per-score (pos, neg) histogram: 2U = Σ_v c₁(v)·(2·C₀(<v) + c₀(v))
    — all integers, ties handled by construction — and
    auc_permille = (1000·2U) div (2·n₁·n₀).

    Scale: label and score come from ONE _doc_features pass (never a
    join of two scorer jobs); the score histogram is one
    map-side-combined rollup; the exclusive negative-count prefix
    rides the range-partitioned kernel (``ranged_prefix``), so no
    single executor ever sorts the whole score column. Products ride
    DECIMAL(38,0)/HUGEINT (c₁·C₀ reaches n₁·n₀ ≈ |docs|² at 100 TB)."""
    from ..queries.prefix import ranged_prefix

    feats = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    scored = feats.select(
        F.expr(
            CLF_SCORE_EXPR
        ).alias("score"),
        F.expr(
            f"CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END"
        ).alias("pos"),
    )
    counts = scored.groupBy("score").agg(
        F.sum("pos").alias("c1"),
        F.sum(1 - F.col("pos")).alias("c0"),
    )
    cum = ranged_prefix(counts, [F.col("score")], sum_cols=["c0"])
    return (
        cum.agg(
            F.coalesce(F.sum("c1"), F.lit(0)).alias("n_pos"),
            F.coalesce(F.sum("c0"), F.lit(0)).alias("n_neg"),
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST(c1 AS DECIMAL(38,0)) * (2 * (cum_c0 - c0) + c0)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("u2"),
        )
        .select(
            F.expr("CAST(n_pos + n_neg AS BIGINT)").alias("n_docs"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.col("n_neg").cast("bigint").alias("n_neg"),
            F.expr(
                "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE"
                " CAST((1000 * u2) div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
                " AS BIGINT) END"
            ).alias("auc_permille"),
        )
    )


_AUC_SQL = f"""
WITH {_DOC_FEATURES_CTES},
v AS (
  SELECT {QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm
           + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)
           + {QC_W_NWORDS} * n_words + {QC_BIAS} AS score,
         CASE WHEN NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}
           OR mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM}
           OR top_word_pm > {MAX_TOP_WORD_PM} OR stop_pm < {MIN_STOP_PM})
           THEN 1 ELSE 0 END AS pos
  FROM scored
),
counts AS (
  SELECT score, sum(pos)::BIGINT AS c1, sum(1 - pos)::BIGINT AS c0
  FROM v GROUP BY score
),
cum AS (
  SELECT *, coalesce(sum(c0) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0_below
  FROM counts
),
agg AS (
  SELECT coalesce(sum(c1), 0)::BIGINT AS n_pos,
         coalesce(sum(c0), 0)::BIGINT AS n_neg,
         coalesce(sum(c1::HUGEINT * (2 * c0_below + c0)), 0) AS u2
  FROM cum
)
SELECT CAST(n_pos + n_neg AS BIGINT) AS n_docs, n_pos, n_neg,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
         CAST((1000 * u2) // (2 * n_pos::HUGEINT * n_neg) AS BIGINT) END
         AS auc_permille
FROM agg
"""


def jackknife_source_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out sensitivity of the corpus mean quality
    score — the data-ablation readout a mixture owner reads before
    dropping or capping a domain ([[source_token_budget_cap]] caps by
    volume; this says what each source does to QUALITY): for every
    source, the corpus mean score without it, and the delta against
    the full-corpus mean, both in exact milli-units
    ((1000·(S−s_s)) div (n−n_s) — truncating div, identical on both
    engines; a single-source corpus yields NULL, not a 0-division).

    Scale: rides the memoized per-doc score relation, one doc-keyed
    join to recover the source, one per-source rollup; the jackknife
    itself runs on the ≤|sources| bounded relation."""
    scores = quality_classifier_scores(spark, sf_dir).select("doc_id", "score")
    src = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source"
    )
    per_source = (
        scores.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_s"),
            F.sum(F.col("score").cast("decimal(38,0)")).alias("s_s"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per_source.agg(
        F.coalesce(F.sum("n_s"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("s_s"), F.lit(0).cast("decimal(38,0)")).alias("s"),
    )
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_docs"),
            F.expr(
                "CASE WHEN n - n_s = 0 THEN NULL ELSE"
                " CAST((1000 * (s - s_s)) div (n - n_s) AS BIGINT) END"
            ).alias("loo_mean_milli"),
            F.expr(
                "CASE WHEN n - n_s = 0 OR n = 0 THEN NULL ELSE"
                " CAST((1000 * (s - s_s)) div (n - n_s)"
                " - (1000 * s) div n AS BIGINT) END"
            ).alias("delta_milli"),
        )
        .orderBy("source")
    )


_JACKKNIFE_SQL = f"""
WITH qc AS ({{qc}}),
per_source AS (
  SELECT d.source, count(*)::BIGINT AS n_s, sum(qc.score::HUGEINT) AS s_s
  FROM qc JOIN documents d ON d.doc_id = qc.doc_id
  GROUP BY d.source
),
tot AS (
  SELECT coalesce(sum(n_s), 0)::BIGINT AS n,
         coalesce(sum(s_s), 0)::HUGEINT AS s
  FROM per_source
)
SELECT source, n_s AS n_docs,
       CASE WHEN n - n_s = 0 THEN NULL ELSE
         CAST((1000 * (s - s_s)) // (n - n_s) AS BIGINT) END AS loo_mean_milli,
       CASE WHEN n - n_s = 0 OR n = 0 THEN NULL ELSE
         CAST((1000 * (s - s_s)) // (n - n_s)
              - (1000 * s) // n AS BIGINT) END AS delta_milli
FROM per_source, tot
ORDER BY source
"""


def gains_curve_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains (lift) table for the quality scorer — the
    curve a "how much good data do the top-k score deciles capture?"
    review reads, and the rank-resolved companion of
    [[quality_scorer_auc]] (AUC is its integral): documents are
    ranked by score (best first, doc_id tiebreak), split into 10
    equal-rank deciles, and each decile reports how many rule-KEPT
    docs it holds plus the cumulative per-mille of all kept docs
    captured so far.

    Scale: label and score from ONE _doc_features pass; the global
    rank rides the range-partitioned prefix kernel (never a global
    sort on one executor); the cumulative walk runs on the ≤10-row
    decile relation (sanctioned one_group case)."""
    from ..queries.prefix import one_group, ranged_prefix

    feats = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    # lazy checkpoint: BOTH consumers (the rank kernel and the totals
    # aggregate) otherwise re-run the whole _doc_features scan — the
    # narrow (doc_id, score, pos) projection materializes once and the
    # corpus pays a single feature pass (guide §1.2 / §5 caching note)
    v = feats.select(
        "doc_id",
        F.expr(
            CLF_SCORE_EXPR
        ).alias("score"),
        F.expr(
            f"CASE WHEN {RULE_KEEP_PRED} THEN 1 ELSE 0 END"
        ).alias("pos"),
    ).localCheckpoint(eager=False)
    # freeze_input=False: v is already a lazy checkpoint
    ranked = ranged_prefix(
        v, [F.col("score").desc(), F.col("doc_id")], rank_col="rk",
        freeze_input=False,
    )
    tot = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("pos"), F.lit(0)).alias("p"),
    )
    deciles = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST(((rk - 1) * 10) div n AS BIGINT)").alias("decile"),
            "pos",
            "p",
        )
        .groupBy("decile", "p")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("n_kept"),
        )
    )
    w = (
        Window.partitionBy(one_group(F.col("decile")))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        deciles.withColumn("_cum", F.sum("n_kept").over(w))
        .select(
            "decile",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.expr(
                "CASE WHEN p = 0 THEN NULL ELSE"
                " CAST((1000 * _cum) div p AS BIGINT) END"
            ).alias("cum_kept_permille"),
        )
        .orderBy("decile")
    )


_GAINS_SQL = f"""
WITH {_DOC_FEATURES_CTES},
v AS (
  SELECT doc_id,
         {QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm
           + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)
           + {QC_W_NWORDS} * n_words + {QC_BIAS} AS score,
         CASE WHEN NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}
           OR mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM}
           OR top_word_pm > {MAX_TOP_WORD_PM} OR stop_pm < {MIN_STOP_PM})
           THEN 1 ELSE 0 END AS pos
  FROM scored
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM v
),
tot AS (
  SELECT count(*)::BIGINT AS n, coalesce(sum(pos), 0)::BIGINT AS p FROM v
),
deciles AS (
  SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS decile, p,
         count(*)::BIGINT AS n_docs, sum(pos)::BIGINT AS n_kept
  FROM ranked, tot
  GROUP BY 1, 2
)
SELECT decile, n_docs, n_kept,
       CASE WHEN p = 0 THEN NULL ELSE
         CAST((1000 * sum(n_kept) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // p
              AS BIGINT) END AS cum_kept_permille
FROM deciles
ORDER BY decile
"""


def quality_scorer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two quality filters the repo ships —
    the Gopher-style rule cascade (``quality_filter_gate``) and the
    frozen linear classifier (``quality_classifier_scores``) — the QA
    a pipeline runs BEFORE swapping one filter for the other: raw
    agreement flatters any pair of lenient filters, kappa corrects
    for chance.

    Both verdicts derive from the SAME ``_doc_features`` relation, so
    the 2x2 confusion table is one projection over one corpus pass +
    one map-side-partial aggregate — never a join between two scorer
    jobs. For a 2x2 table [[a,b],[c,d]] kappa collapses to
    2(ad-bc) / ((a+b)(b+d) + (a+c)(c+d)); products ride
    DECIMAL(38,0)/HUGEINT (counts at 100 TB overflow an int64
    product), and the per-mille division splits sign from magnitude
    defensively. Integer-division semantics (the canonical statement
    for this repo, verified r7): Spark ``div`` and DuckDB ``//`` BOTH
    truncate toward zero (DuckDB ``-7 // 3 = -2``), so the engines
    agree even on negative kappa; the sign/magnitude split simply
    makes the expression convention-independent.
    """
    return _kappa_projection(_scorer_cells(spark, sf_dir))


def _scorer_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row 2x2 confusion table between the rule cascade and the
    linear classifier — one projection over one corpus pass, shared by
    the kappa face and the McNemar face (so the verdict definitions
    can never drift between the two agreement statistics)."""
    feats = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    verdicts = feats.select(
        F.expr(
            RULE_KEEP_PRED
        ).alias("rule_keep"),
        (
            F.expr(
                CLF_SCORE_EXPR
            )
            >= 0
        ).alias("clf_keep"),
    )
    return verdicts.agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("rule_keep") & F.col("clf_keep")).alias("both_keep"),
        F.count_if(F.col("rule_keep") & ~F.col("clf_keep")).alias("rule_only"),
        F.count_if(~F.col("rule_keep") & F.col("clf_keep")).alias("clf_only"),
        F.count_if(~F.col("rule_keep") & ~F.col("clf_keep")).alias("both_drop"),
    )


def mcnemar_scorer_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on the SAME 2x2 table
    [[quality_scorer_agreement]] reads — the question kappa does NOT
    answer: is the disagreement between the two filters SYMMETRIC, or
    does one systematically keep documents the other drops? Only the
    off-diagonal cells matter (b = rule-keeps-clf-drops, c = the
    reverse); χ² = (b−c)²/(b+c), plus the Edwards continuity-corrected
    variant (|b−c|−1)²/(b+c) — the small-sample form a reviewer will
    ask for. A filter swap is "safe in volume" when kappa is high AND
    McNemar is insignificant; high kappa with a lopsided McNemar means
    the swap silently shifts the corpus toward one filter's bias.

    Exactness: all-integer cells; both statistics are exact per-mille
    floor divisions (truncating div — identical in both engines, see
    quality_scorer_agreement's canonical statement); b + c = 0 yields
    NULL, |b−c| ≤ 1 pins the corrected form to 0 exactly.

    Scale: rides the same one-pass projection as the kappa face —
    the McNemar add-on is arithmetic on a 1-row relation."""
    return _scorer_cells(spark, sf_dir).select(
        "n_docs",
        F.col("rule_only").alias("b_rule_only"),
        F.col("clf_only").alias("c_clf_only"),
        # (b-c)² products ride DECIMAL(38,0)/HUGEINT like the kappa
        # face — counts at 100 TB overflow an int64 product (the
        # quotient itself is ≤ 1000·max(b,c), safely BIGINT).
        F.expr(
            "CASE WHEN rule_only + clf_only = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((1000 * CAST(rule_only - clf_only AS DECIMAL(38,0))"
            "            * (rule_only - clf_only))"
            "      div (rule_only + clf_only) AS BIGINT) END"
        ).alias("chi2_pm"),
        F.expr(
            "CASE WHEN rule_only + clf_only = 0 THEN CAST(NULL AS BIGINT)"
            " WHEN abs(rule_only - clf_only) <= 1 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((1000 * CAST(abs(rule_only - clf_only) - 1 AS DECIMAL(38,0))"
            "            * (abs(rule_only - clf_only) - 1))"
            "      div (rule_only + clf_only) AS BIGINT) END"
        ).alias("chi2_cc_pm"),
    )


def _kappa_projection(cells: DataFrame) -> DataFrame:
    """2x2 kappa over a 1-row (n_docs, both_keep, rule_only,
    clf_only, both_drop) relation — separated so the negative-kappa
    sign-split is unit-testable on crafted cells."""
    dec = "CAST({} AS DECIMAL(38,0))"
    a, b, c, d = (dec.format(x) for x in ("both_keep", "rule_only", "clf_only", "both_drop"))
    return cells.select(
        "n_docs",
        "both_keep",
        "rule_only",
        "clf_only",
        "both_drop",
        F.expr("(both_keep + both_drop) * 1000 div nullif(n_docs, 0)").alias("agree_pm"),
        F.expr(
            f"CASE WHEN ({a} + {b}) * ({b} + {d}) + ({a} + {c}) * ({c} + {d}) = 0"
            f" THEN CAST(NULL AS BIGINT)"
            f" ELSE CAST(CASE WHEN {a} * {d} < {b} * {c} THEN -1 ELSE 1 END"
            f"   * ((2000 * abs({a} * {d} - {b} * {c}))"
            f"      div (({a} + {b}) * ({b} + {d}) + ({a} + {c}) * ({c} + {d})))"
            f"   AS BIGINT) END"
        ).alias("kappa_pm"),
    )


_AGREEMENT_SQL = f"""
WITH {_DOC_FEATURES_CTES},
v AS (
  SELECT NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}
              OR mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM}
              OR top_word_pm > {MAX_TOP_WORD_PM} OR stop_pm < {MIN_STOP_PM}) AS rule_keep,
         ({QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm
            + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)
            + {QC_W_NWORDS} * n_words + {QC_BIAS}) >= 0 AS clf_keep
  FROM scored
),
cells AS (
  SELECT count(*)::BIGINT AS n_docs,
         count(*) FILTER (WHERE rule_keep AND clf_keep)::BIGINT AS both_keep,
         count(*) FILTER (WHERE rule_keep AND NOT clf_keep)::BIGINT AS rule_only,
         count(*) FILTER (WHERE NOT rule_keep AND clf_keep)::BIGINT AS clf_only,
         count(*) FILTER (WHERE NOT rule_keep AND NOT clf_keep)::BIGINT AS both_drop
  FROM v
)
SELECT n_docs, both_keep, rule_only, clf_only, both_drop,
       ((both_keep + both_drop) * 1000 // nullif(n_docs, 0))::BIGINT AS agree_pm,
       CASE WHEN (both_keep::HUGEINT + rule_only) * (rule_only::HUGEINT + both_drop)
               + (both_keep::HUGEINT + clf_only) * (clf_only::HUGEINT + both_drop) = 0
            THEN NULL
            ELSE (CASE WHEN both_keep::HUGEINT * both_drop < rule_only::HUGEINT * clf_only
                       THEN -1 ELSE 1 END
                  * ((2000 * abs(both_keep::HUGEINT * both_drop - rule_only::HUGEINT * clf_only))
                     // ((both_keep::HUGEINT + rule_only) * (rule_only::HUGEINT + both_drop)
                         + (both_keep::HUGEINT + clf_only) * (clf_only::HUGEINT + both_drop))))::BIGINT
       END AS kappa_pm
FROM cells
"""


DSIR_TARGET_LANG = "en"
DSIR_SCALE = 1_000_000


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much its token distribution resembles a target
    distribution (here: the English subset), using smoothed unigram
    importance ratios.

    Deviations from the paper, both deliberate:
    - per-token ratios aggregate ADDITIVELY (mean importance ratio)
      instead of multiplying into a log-prob — a float log-sum is
      aggregation-order- and libm-dependent (the lexical_rarity_stats
      rationale), so each token's smoothed ratio
      (c_target+1)/(c_raw+1) is fixed-pointed to 1e6 via integer
      division and summed exactly in int64;
    - the final Gumbel-noise resample is omitted (deterministic
      scores ARE the contract; sampling is llm/sampling.py's job).

    One corpus scan: per-doc token counts roll up to the vocabulary
    (df-from-tf, the tfidf_top_terms shape), then join back on the
    token key. At 100 TB both shuffles are token-keyed and the vocab
    side is the thin one; nothing is driver-side."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    # lazy checkpoint: doc_tok feeds BOTH the vocabulary rollup and
    # the ratio join-back — without it the explode+groupBy corpus scan
    # runs twice per evaluation (guide §1.2: don't recompute what you
    # already shuffled; the (doc,token) rollup is the thin proxy)
    doc_tok = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("n_t"))
        .localCheckpoint(eager=False)
    )
    vocab = doc_tok.groupBy("token").agg(
        F.sum("n_t").alias("c_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n_t")).otherwise(F.lit(0))
        ).alias("c_tgt"),
    )
    scored = doc_tok.join(vocab, "token").withColumn(
        "contrib", F.col("n_t") * F.expr(f"(c_tgt + 1) * {DSIR_SCALE} div (c_raw + 1)")
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.sum("n_t").alias("n_tokens"),
            F.sum("contrib").alias("dsir_score_fp"),
        )
        .withColumn("avg_token_ratio_fp", F.expr("dsir_score_fp div n_tokens"))
        .orderBy("doc_id")
    )


_DSIR_SQL = f"""
WITH doc_tok AS (
  SELECT doc_id, lang, token, count(*)::BIGINT AS n_t
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, lang, token
),
vocab AS (
  SELECT token, sum(n_t)::BIGINT AS c_raw,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN n_t ELSE 0 END)::BIGINT AS c_tgt
  FROM doc_tok GROUP BY token
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         sum(d.n_t)::BIGINT AS n_tokens,
         sum(d.n_t * (((v.c_tgt + 1) * {DSIR_SCALE}) // (v.c_raw + 1)))::BIGINT AS dsir_score_fp
  FROM doc_tok d JOIN vocab v USING (token)
  GROUP BY d.doc_id, d.lang
)
SELECT doc_id, lang, n_tokens, dsir_score_fp,
       dsir_score_fp // n_tokens AS avg_token_ratio_fp
FROM per_doc
ORDER BY doc_id
"""


CAL_BIN_WIDTH = 200
CAL_SHIFT = 1_000_000  # keeps the binned quantity positive so bin
#                        edges are uniform regardless of division
#                        convention. NOTE (verified r7): Spark div and
#                        DuckDB // BOTH truncate toward zero (DuckDB
#                        -7 // 3 = -2); see the canonical statement in
#                        quality_scorer_agreement's docstring. The
#                        shift is kept as a defensive invariant, not
#                        a cross-engine necessity.


def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report tying the two quality systems together —
    does a higher [[quality_classifier_scores]] score actually predict
    passing the [[quality_filter_gate]] rule cascade? Scores are binned
    (width 200), and each bin reports how many docs the gate keeps:
    a monotone keep-rate curve validates the scorer; a flat one means
    the learned weights add nothing over the rules. The report every
    filter deployment checks before swapping rules for a model.

    Plan: BOTH the score and the gate verdict derive from the one
    shared _doc_features pass (a single corpus scan + the top-word
    rollup), then one thin groupBy over ≤ a few dozen bins. Integer
    everywhere: the bin id is a shifted integer division and the
    keep rate is per-mille."""
    feats = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    scored = feats.withColumn(
        "score",
        F.expr(
            CLF_SCORE_EXPR
        ),
    ).withColumn(
        "keep",
        F.expr(
            RULE_KEEP_PRED
        ),
    )
    return (
        scored.groupBy(
            F.expr(
                f"(score + {CAL_SHIFT}) div {CAL_BIN_WIDTH} - {CAL_SHIFT // CAL_BIN_WIDTH}"
            ).alias("score_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .withColumn("keep_rate_permille", F.expr("(1000 * n_kept) div n_docs"))
        .orderBy("score_bin")
    )


_CALIBRATION_SQL = f"""
WITH {_DOC_FEATURES_CTES},
s AS (
  SELECT doc_id,
         {QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm
           + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)
           + {QC_W_NWORDS} * n_words + {QC_BIAS} AS score,
         NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}
              OR mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM}
              OR top_word_pm > {MAX_TOP_WORD_PM} OR stop_pm < {MIN_STOP_PM}) AS keep
  FROM scored
)
SELECT (score + {CAL_SHIFT}) // {CAL_BIN_WIDTH} - {CAL_SHIFT // CAL_BIN_WIDTH} AS score_bin,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       ((1000 * sum(CASE WHEN keep THEN 1 ELSE 0 END)) // count(*))::BIGINT
         AS keep_rate_permille
FROM s
GROUP BY 1
ORDER BY score_bin
"""


BOILERPLATE_N = 5
TOP_BOILERPLATE = 20


def boilerplate_ngram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document-frequency word 5-grams — the C4-style boilerplate
    census: navigation chrome, licence blurbs, and template headers
    surface as n-grams shared by many documents, and this report is
    what you read before writing removal rules (the removal itself is
    [[dedup_chunk_ratio]]'s passage dedup; the inverted-index df caps
    in the dedup family prune these same shingles silently — this
    face makes them visible).

    Plan: per-doc DISTINCT shingles (df counts documents, not
    occurrences), one explode → groupBy(ngram) count with map-side
    partials, TakeOrderedAndProject top-20 — never a global sort.
    The share denominator is a 1-row broadcast scalar.  At 100 TB
    you would aggregate on the shingle HASH and join the winning 20
    back to text; grouping the text directly is the same shuffle
    class as TF-IDF's word relation and keeps the report one job."""
    from .hashing import word_shingles

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    shingled = docs.select(
        "doc_id",
        F.explode(word_shingles(F.split("text", " "), n=BOILERPLATE_N)).alias("ngram"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        shingled.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(n_docs))
        .select(
            "ngram",
            "df",
            F.expr("(1000 * df) div n_docs").alias("df_permille"),
        )
        .orderBy(F.col("df").desc(), "ngram")
        .limit(TOP_BOILERPLATE)
    )


def _boilerplate_sql() -> str:
    from .hashing import word_shingles_sql

    shingles = word_shingles_sql("string_split(text, ' ')", n=BOILERPLATE_N)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({shingles}) AS ngram
  FROM documents
),
df AS (SELECT ngram, count(*) AS df FROM sh GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT ngram, df, (1000 * df) // n_docs AS df_permille
FROM df, n
ORDER BY df DESC, ngram
LIMIT {TOP_BOILERPLATE}
"""


# A source whose per-mille document reject rate reaches this is
# flagged for curator review (the C4/RefinedWeb "bad domain" cut).
SOURCE_GATE_PM = 150


def source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level quality rollup of the per-document rule cascade:
    reject counts and per-mille reject rate per source, plus the
    dominant (modal) failure rule — the report that turns a document
    gate into a DOMAIN blocklist decision. Web-scale curation prunes
    at the source/domain level first (one bad crawl seed poisons
    millions of docs); this is that decision table.

    Rides ``quality_filter_gate``'s per-doc verdicts (same
    ``_doc_features`` definition — the rollup can never disagree with
    the gate) joined back to the corpus for the source key; one
    |sources|-group aggregate on top. The modal rule uses a
    deterministic (count DESC, rule ASC) tie-break so both engines
    pick the same mode. Integer per-mille only."""
    verdicts = quality_filter_gate(spark, sf_dir).select("doc_id", "first_fail")
    src = load_spread(spark, sf_dir, "documents", "doc_id").select("doc_id", "source")
    j = verdicts.join(src, "doc_id")
    per_source = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("first_fail") != "").alias("n_rejected"),
    )
    rule_counts = (
        j.filter(F.col("first_fail") != "")
        .groupBy("source", "first_fail")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("first_fail"))
    modal = (
        rule_counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("first_fail").alias("top_fail_rule"))
    )
    return (
        per_source.join(modal, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_rejected",
            F.expr("n_rejected * 1000 div n_docs").alias("reject_pm"),
            F.coalesce("top_fail_rule", F.lit("")).alias("top_fail_rule"),
            (F.expr("n_rejected * 1000 div n_docs") >= SOURCE_GATE_PM).alias("gated"),
        )
        .orderBy("source")
    )


_SOURCE_GATE_SQL = f"""
WITH g AS ({_GATE_SQL}),
j AS (
  SELECT d.source, g.first_fail
  FROM g JOIN documents d USING (doc_id)
),
per_source AS (
  SELECT source, count(*) AS n_docs,
         count(*) FILTER (WHERE first_fail <> '') AS n_rejected
  FROM j GROUP BY source
),
modal AS (
  SELECT source, first_fail AS top_fail_rule
  FROM (
    SELECT source, first_fail,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, first_fail) AS rn
    FROM j WHERE first_fail <> ''
    GROUP BY source, first_fail
  ) WHERE rn = 1
)
SELECT source, n_docs, n_rejected,
       (n_rejected * 1000 // n_docs)::BIGINT AS reject_pm,
       coalesce(top_fail_rule, '') AS top_fail_rule,
       (n_rejected * 1000 // n_docs) >= {SOURCE_GATE_PM} AS gated
FROM per_source LEFT JOIN modal USING (source)
ORDER BY source
"""



RAG_CHUNK_WORDS = 32   # window W
RAG_CHUNK_STRIDE = 24  # stride S (overlap = W - S = 8 words)


def rag_chunk_overlap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking audit: cut every document into
    W-word windows advanced by stride S (overlap W−S — the standard
    retrieval-prep so no answer span straddles a hard boundary) and
    report, per source: docs, chunks, total chunk-words, the overlap
    tax in per-mille (how much index volume the overlap costs), and
    DISTINCT chunk fingerprints — duplicated chunks across docs are
    boilerplate the retriever will surface verbatim, the first thing
    a RAG index QA looks at.

    Chunk math: n_chunks = 1 + ⌈max(0, n_words − W)/S⌉ (every word
    covered, last window may be short); chunk i covers words
    [1+iS, 1+iS+W). All counts integer-exact; the fingerprint is the
    shared md5-h32 (chunks shuffle as 8-byte hashes, never text).

    Scale: per-doc chunk counts and word mass are CLOSED FORMS (no
    explode); one generator pass produces the chunk fingerprints
    (sequence → transform → slice → h32, all codegen) and the
    per-source rollup shuffles (source, hash) pairs only. At 100 TB
    this is the chunker run before embedding — the plan IS the
    production chunking job with embeddings stubbed out."""
    from .hashing import h32

    W, S = RAG_CHUNK_WORDS, RAG_CHUNK_STRIDE
    docs = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", F.split("text", " ").alias("words")
    )
    n_chunks = F.lit(1) + F.expr(
        f"(greatest(0, size(words) - {W}) + {S} - 1) div {S}"
    )
    # Per-doc chunk stats need NO explode: every chunk except the
    # last is exactly W words (for i ≤ nc−2, i·S + W < n by the nc
    # definition), so chunk_words = (nc−1)·W + (n − (nc−1)·S) in
    # closed form. The explode below exists ONLY for the distinct
    # fingerprints — one generator pass over the corpus, not two
    # (review r5 finding; the oracle keeps its explicit explode as
    # the independent witness of the closed form).
    per_doc = docs.select(
        "source",
        F.size("words").alias("n_words"),
        n_chunks.alias("n_chunks"),
    ).withColumn(
        "chunk_words",
        (F.col("n_chunks") - 1) * W
        + F.least(F.lit(W), F.col("n_words") - (F.col("n_chunks") - 1) * S),
    )
    chunk_hashes = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: h32(F.concat_ws(" ", F.slice("words", i * S + 1, W))),
            )
        ).alias("chunk_h"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_words").alias("n_words"),
            F.sum("chunk_words").alias("n_chunk_words"),
        )
        .join(
            chunk_hashes.groupBy("source").agg(
                F.countDistinct("chunk_h").alias("n_distinct_chunks")
            ),
            "source",
        )
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            "n_chunk_words",
            F.expr(
                "CAST(1000 * (n_chunk_words - n_words) div n_chunk_words AS BIGINT)"
            ).alias("overlap_permille"),
        )
        .orderBy("source")
    )


def _rag_chunk_sql() -> str:
    from .hashing import h32_sql

    W, S = RAG_CHUNK_WORDS, RAG_CHUNK_STRIDE
    return f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
),
chunks AS (
  SELECT doc_id, source, len(words) AS n_words,
         unnest(list_transform(
           range(0, 1 + (greatest(0, len(words) - {W}) + {S} - 1) // {S}),
           i -> array_to_string(words[i * {S} + 1 : i * {S} + {W}], ' ')
         )) AS chunk
  FROM d
),
scored AS (
  SELECT doc_id, source, n_words,
         len(string_split(chunk, ' ')) AS chunk_words,
         {h32_sql("chunk")} AS chunk_h
  FROM chunks
),
per_doc AS (
  SELECT doc_id, source, max(n_words) AS n_words,
         count(*) AS n_chunks, sum(chunk_words) AS chunk_words
  FROM scored GROUP BY doc_id, source
),
per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(n_chunks)::BIGINT AS n_chunks,
         sum(n_words)::BIGINT AS n_words,
         sum(chunk_words)::BIGINT AS n_chunk_words
  FROM per_doc GROUP BY source
),
dchunks AS (
  SELECT source, count(DISTINCT chunk_h)::BIGINT AS n_distinct_chunks
  FROM scored GROUP BY source
)
SELECT p.source, p.n_docs, p.n_chunks, d.n_distinct_chunks, p.n_chunk_words,
       CAST(1000 * (p.n_chunk_words - p.n_words) // p.n_chunk_words AS BIGINT)
         AS overlap_permille
FROM per_source p JOIN dchunks d ON p.source = d.source
ORDER BY p.source
"""


# McNemar rides the kappa face's CTE chain verbatim: split
# _AGREEMENT_SQL at its FINAL projection (the last top-level SELECT)
# and swap in the off-diagonal test — one definition of the verdicts
# and cells for all three agreement statistics.
_MCNEMAR_SQL = _AGREEMENT_SQL[: _AGREEMENT_SQL.rindex("\nSELECT ")] + """
SELECT n_docs,
       rule_only AS b_rule_only,
       clf_only AS c_clf_only,
       CASE WHEN rule_only + clf_only = 0 THEN NULL
            ELSE ((1000 * (rule_only - clf_only)::HUGEINT * (rule_only - clf_only))
                  // (rule_only + clf_only))::BIGINT END AS chi2_pm,
       CASE WHEN rule_only + clf_only = 0 THEN NULL
            WHEN abs(rule_only - clf_only) <= 1 THEN 0::BIGINT
            ELSE ((1000 * (abs(rule_only - clf_only) - 1)::HUGEINT
                   * (abs(rule_only - clf_only) - 1))
                  // (rule_only + clf_only))::BIGINT END AS chi2_cc_pm
FROM cells
"""


DSIR_SAMPLE_DIV = 5  # target sample ≈ corpus/5
DSIR_CUM_BUCKET = 1000  # doc_ids per prefix-sum bucket


def dsir_systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023 §2: importance
    weights are only step one — the corpus you train on is a DRAW
    against those weights): deterministic SYSTEMATIC resampling over
    the [[dsir_importance_weights]] scores. One stride ≈ W/m walks the
    cumulative-weight axis; a document is selected once per stride
    boundary inside its weight interval, so high-ratio docs can be
    drawn multiple times (``n_copies`` — the epochs-style repetition
    importance resampling genuinely produces) while low-ratio docs
    drop out, with NO RNG: systematic sampling's single uniform offset
    is pinned to 0, which keeps both engines bit-identical and the
    draw reproducible across reruns (the md5-determinism doctrine,
    applied to sampling).

    Exactness: weights, cumulative sums, stride arithmetic — all
    BIGINT; selection is pure integer boundary counting.

    Scale: the global prefix sum is a TWO-LEVEL hierarchy (within
    doc_id-range buckets of DSIR_CUM_BUCKET docs, plus the
    ``ranged_prefix`` range kernel over the |docs|/DSIR_CUM_BUCKET
    per-bucket totals) — never a single-partition window at EITHER
    level (ADVICE r8 #2: the second level previously used an
    unpartitioned Window.orderBy over the totals, which grows with
    the corpus; routing it through ranged_prefix makes the scan
    hierarchy a plan property, not a comment)."""
    from pyspark.sql import Window

    from ..queries.prefix import ranged_prefix

    # lazy checkpoint: the weights relation has THREE consumers (the
    # bucket-local windows, the bucket-totals kernel input, and the
    # stride aggregate) — each would re-run the entire importance-
    # weights chain, itself a multi-shuffle corpus pass (guide §1.2)
    wts = (
        dsir_importance_weights(spark, sf_dir)
        .select("doc_id", F.col("avg_token_ratio_fp").alias("w"))
        .localCheckpoint(eager=False)
    )
    b = wts.withColumn("bucket", F.expr(f"doc_id div {DSIR_CUM_BUCKET}"))
    wb = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.withColumn("local_cum", F.sum("w").over(wb))
    # exclusive offset = inclusive range-kernel cumsum minus own total
    # freeze_input=False: the bucket totals re-aggregate checkpointed wts
    # (r10 note: deriving `totals` from a checkpointed bucket rollup —
    # Σ bucket sums == table sum exactly — was tried to drop the third
    # wts consumer; interleaved A/B read 1.09x against a 0.8x control
    # bias, i.e. a real local loss from the extra materialization
    # barrier, and the wts re-read is a scan of already-checkpointed
    # rows, so it was reverted.)
    offsets = ranged_prefix(
        b.groupBy("bucket").agg(F.sum("w").alias("bw")),
        [F.col("bucket")],
        sum_cols=["bw"],
        freeze_input=False,
    ).select("bucket", (F.col("cum_bw") - F.col("bw")).alias("offset"))
    totals = wts.agg(
        F.sum("w").alias("w_total"), F.count(F.lit(1)).alias("n_docs")
    ).select(
        "w_total",
        F.expr(
            f"greatest(CAST(1 AS BIGINT),"
            f" w_total div greatest(CAST(1 AS BIGINT), n_docs div {DSIR_SAMPLE_DIV}))"
        ).alias("stride"),
    )
    cum = (
        local.join(F.broadcast(offsets), "bucket")
        .withColumn("cumw", F.col("local_cum") + F.col("offset"))
        .crossJoin(F.broadcast(totals))
    )
    return (
        cum.withColumn(
            "n_copies", F.expr("cumw div stride - (cumw - w) div stride").cast("bigint")
        )
        .filter(F.col("n_copies") >= 1)
        .select("doc_id", F.col("w").cast("bigint").alias("weight_fp"), "n_copies")
        .orderBy("doc_id")
    )


_RESAMPLE_SQL = f"""
WITH weights AS (
  SELECT doc_id, avg_token_ratio_fp AS w FROM ({_DSIR_SQL.replace("ORDER BY doc_id", "")})
),
cum AS (
  SELECT doc_id, w,
         sum(w) OVER (ORDER BY doc_id) AS cumw,
         (SELECT sum(w) FROM weights) AS w_total,
         (SELECT count(*) FROM weights) AS n_docs
  FROM weights
),
strided AS (
  SELECT doc_id, w, cumw,
         greatest(1, w_total // greatest(1, n_docs // {DSIR_SAMPLE_DIV})) AS stride
  FROM cum
)
SELECT doc_id, w::BIGINT AS weight_fp,
       (cumw // stride - (cumw - w) // stride)::BIGINT AS n_copies
FROM strided
WHERE cumw // stride - (cumw - w) // stride >= 1
ORDER BY doc_id
"""


def cochran_q_scorer_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE correlated binary filters — the k-way
    generalization of [[mcnemar_scorer_disagreement]] (McNemar is
    exactly Cochran's Q at k = 2): do the full rule cascade, the
    linear classifier, and the bare length-window gate pass the SAME
    documents at the same rate? A significant Q on a filter battery
    means the battery members genuinely disagree — the check to run
    BEFORE treating "passes 2 of 3 filters" as a quality vote.

    Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) with C_j = per-filter
    keeps, T = ΣC_j, R_i = per-document keep count — all from ONE
    map-side-combined aggregate over the shared ``_doc_features``
    pass (the same single-projection doctrine as the kappa face).

    Exactness: every term is an exact BIGINT; Q is reported in
    truncating per-mille; a zero denominator (all docs identical
    across filters) yields NULL on both engines."""
    feats = _doc_features(load_spread(spark, sf_dir, "documents", "doc_id"))
    len_pred = f"NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS})"
    verdicts = feats.select(
        F.expr(RULE_KEEP_PRED).cast("int").alias("v1"),
        (F.expr(CLF_SCORE_EXPR) >= 0).cast("int").alias("v2"),
        F.expr(len_pred).cast("int").alias("v3"),
    )
    sums = verdicts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("v1").alias("c1"),
        F.sum("v2").alias("c2"),
        F.sum("v3").alias("c3"),
        F.sum(F.expr("(v1 + v2 + v3) * (v1 + v2 + v3)")).alias("sum_r2"),
    )
    return sums.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("c1").cast("bigint").alias("keeps_rule"),
        F.col("c2").cast("bigint").alias("keeps_clf"),
        F.col("c3").cast("bigint").alias("keeps_len"),
        F.lit(2).cast("bigint").alias("df"),
        # C_j² / T² products ride DECIMAL(38,0) — c_j ~ 1e10 at the
        # 100 TB posture overflows an int64 square; the quotient is
        # ≤ 2000·n, safely BIGINT (the kappa-face overflow doctrine).
        F.expr(
            "CASE WHEN 3 * (c1 + c2 + c3) - sum_r2 = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((2000 * (3 * (CAST(c1 AS DECIMAL(38,0))*c1"
            "                         + CAST(c2 AS DECIMAL(38,0))*c2"
            "                         + CAST(c3 AS DECIMAL(38,0))*c3)"
            "       - CAST(c1 + c2 + c3 AS DECIMAL(38,0)) * (c1 + c2 + c3)))"
            "      div (3 * (c1 + c2 + c3) - sum_r2) AS BIGINT) END"
        ).alias("q_pm"),
    )


_COCHRAN_SQL = f"""
WITH {_DOC_FEATURES_CTES},
v AS (
  SELECT (NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}
               OR mean_wlen_pm < {MIN_MWL_PM} OR mean_wlen_pm > {MAX_MWL_PM}
               OR top_word_pm > {MAX_TOP_WORD_PM} OR stop_pm < {MIN_STOP_PM}))::INT AS v1,
         (({QC_W_STOP} * stop_pm + {QC_W_DOMINANCE} * top_word_pm
            + {QC_W_WLEN_DEV} * (abs(mean_wlen_pm - 4500) // 4)
            + {QC_W_NWORDS} * n_words + {QC_BIAS}) >= 0)::INT AS v2,
         (NOT (n_words < {MIN_WORDS} OR n_words > {MAX_WORDS}))::INT AS v3
  FROM scored
),
sums AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(v1)::BIGINT AS c1, sum(v2)::BIGINT AS c2, sum(v3)::BIGINT AS c3,
         sum((v1 + v2 + v3) * (v1 + v2 + v3))::BIGINT AS sum_r2
  FROM v
)
SELECT n_docs, c1 AS keeps_rule, c2 AS keeps_clf, c3 AS keeps_len,
       2::BIGINT AS df,
       CASE WHEN 3 * (c1 + c2 + c3) - sum_r2 = 0 THEN NULL
            ELSE ((2000 * (3 * (c1::HUGEINT*c1 + c2::HUGEINT*c2 + c3::HUGEINT*c3)
                   - (c1 + c2 + c3)::HUGEINT * (c1 + c2 + c3)))
                  // (3 * (c1 + c2 + c3) - sum_r2))::BIGINT END AS q_pm
FROM sums
"""


QUERIES = (
    (cochran_q_scorer_battery, _COCHRAN_SQL),
    (dsir_systematic_resample, _RESAMPLE_SQL),
    (mcnemar_scorer_disagreement, _MCNEMAR_SQL),
    (dedup_chunk_ratio, _CHUNK_SQL),
    (chunk_dedup_rewrite, _CHUNK_REWRITE_SQL),
    (quality_filter_gate, _GATE_SQL),
    (bm25_keyword_search, _BM25_SQL),
    (dsir_importance_weights, _DSIR_SQL),
    (quality_classifier_scores, _QC_SQL),
    (quality_scorer_agreement, _AGREEMENT_SQL),
    (quality_scorer_auc, _AUC_SQL),
    (jackknife_source_sensitivity, _JACKKNIFE_SQL.format(qc=_QC_SQL)),
    (gains_curve_scorer, _GAINS_SQL),
    (score_calibration_bins, _CALIBRATION_SQL),
    (boilerplate_ngram_report, _boilerplate_sql()),
    (source_quality_gate, _SOURCE_GATE_SQL),
    (rag_chunk_overlap_stats, _rag_chunk_sql()),
)
