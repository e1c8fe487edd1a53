"""Text-analysis operators over the ``documents`` table.

[beyond-reference] surface (SURVEY.md §2.2): token counting
(whitespace + regex "BPE-ish" token classes), quality scoring,
language-ID heuristic, document fingerprinting. Everything is
built-in Column expressions (JVM codegen, no Python UDFs) with exact
DuckDB oracles.

Scale: all queries are embarrassingly parallel projections /
per-row expressions over the parquet scan — no shuffle at all except
the display sort; at 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load, load_spread
from .hashing import h32, h32_sql

STOPWORDS = ["the", "a", "of", "and"]
TECH_MARKERS = ["table", "query", "row", "column", "join"]
TOKEN_RX = "[a-z0-9]+"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and regex-class token counts + length stats.
    avg_token_len is int/int double division → bit-identical."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RX), 0)).alias("n_regex_tokens"),
        (
            F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
            / F.size(words)
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


_TOKEN_STATS_SQL = f"""
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       length(text)                                   AS n_chars_measured,
       len(words)                                     AS n_tokens,
       len(list_distinct(words))                      AS n_distinct_tokens,
       len(regexp_extract_all(text, '{TOKEN_RX}'))    AS n_regex_tokens,
       list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words) AS avg_token_len
FROM w
ORDER BY doc_id
"""


def text_quality_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + marker-word language/genre heuristic.
    Ratios are int/int divisions (bit-identical); the verdicts are
    threshold CASE expressions over them."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    tech = F.size(F.filter(words, lambda w: w.isin(TECH_MARKERS)))
    stop_ratio = stop / n
    tech_ratio = tech / n
    return docs.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        tech_ratio.alias("tech_marker_ratio"),
        F.when(n < 20, "too_short")
        .when(stop_ratio > 0.5, "boilerplate")
        .otherwise("ok")
        .alias("quality_band"),
        F.when(tech_ratio > stop_ratio, "tech").otherwise("prose").alias("genre_guess"),
    ).orderBy("doc_id")


def _sql_list(xs: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


_QUALITY_SQL = f"""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
m AS (
  SELECT doc_id, lang, len(words) AS n_tokens,
         len(list_filter(words, x -> list_contains({_sql_list(STOPWORDS)}, x))) AS n_stop,
         len(list_filter(words, x -> list_contains({_sql_list(TECH_MARKERS)}, x))) AS n_tech
  FROM w
)
SELECT doc_id, lang, n_tokens,
       n_stop * 1.0 / n_tokens AS stopword_ratio,
       n_tech * 1.0 / n_tokens AS tech_marker_ratio,
       CASE WHEN n_tokens < 20 THEN 'too_short'
            WHEN n_stop * 1.0 / n_tokens > 0.5 THEN 'boilerplate'
            ELSE 'ok' END AS quality_band,
       CASE WHEN n_tech * 1.0 / n_tokens > n_stop * 1.0 / n_tokens
            THEN 'tech' ELSE 'prose' END AS genre_guess
FROM m
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of the normalized text plus a 1024-way
    shard bucket — the key you'd dedup/partition on at 100 TB."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
        (h32(norm) % 1024).alias("shard_bucket"),
    ).orderBy("doc_id")


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       substr(md5(lower(trim(text))), 1, 16) AS fingerprint,
       {h32_sql("lower(trim(text))")} % 1024 AS shard_bucket
FROM documents
ORDER BY doc_id
"""


def language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language identification, profiles trained from the
    corpus itself (the textbook n-gram heuristic, Cavnar & Trenkle '94
    shape): per-language trigram document-frequency profiles →
    score(doc, lang) = Σ per-mille df of the doc's distinct trigrams →
    argmax. Scoring is all-integer (df*1000 div lang-doc-count), so
    cross-engine exact; ties break to the lexicographically smaller
    language.

    Scale: trigram explosion is a per-row HOF projection; the profile
    (langs × distinct trigrams) is tiny and broadcast, so the
    classify join never shuffles the corpus — one aggregate per
    (doc, candidate lang), then a per-doc top-1."""
    from pyspark.sql import Window

    docs = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "lang", F.lower(F.col("text")).alias("t")
    )
    grams = docs.select(
        "doc_id",
        "lang",
        # guard sub-3-char texts: sequence(1, length-2) STEPS DOWN for
        # them (sequence(1,0) = [1,0]) and substr at pos 0 fabricates
        # bogus grams; DuckDB's range() is empty for the same rows, so
        # the guard is also what keeps the two engines row-identical.
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN length(t) >= 3 "
                    "THEN transform(sequence(1, length(t) - 2), p -> substr(t, p, 3)) "
                    "ELSE array() END"
                )
            )
        ).alias("gram"),
        # NOT checkpointed, deliberately: the trigram stream has two
        # consumers (profile fit, scoring), but it is corpus-sized —
        # a same-session interleaved A/B measured materialize-once
        # at 1.09x of recompute-twice (the HOF explode is cheaper than
        # an RDD round-trip of every gram row; same verdict as
        # theil_sen's pair generation).
    )
    lang_sizes = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    profile = (
        grams.groupBy(F.col("lang").alias("cand_lang"), "gram")
        .agg(F.count("*").alias("df"))
        .join(lang_sizes.withColumnRenamed("lang", "cand_lang"), "cand_lang")
        .select("cand_lang", "gram", F.expr("df * 1000 div n_docs").alias("rate_pm"))
    )
    scored = (
        grams.join(F.broadcast(profile), "gram")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.sum("rate_pm").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand_lang"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", F.col("cand_lang").alias("predicted_lang"), "score")
        .orderBy("doc_id")
    )


_LANG_ID_SQL = """
WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(list_distinct(
           [substr(t, p, 3) FOR p IN range(1, length(t) - 1)])) AS gram
  FROM d
),
lang_sizes AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY lang),
profile AS (
  SELECT g.lang AS cand_lang, g.gram,
         count(*) * 1000 // any_value(s.n_docs) AS rate_pm
  FROM grams g JOIN lang_sizes s ON s.lang = g.lang
  GROUP BY g.lang, g.gram
),
scored AS (
  SELECT g.doc_id, g.lang, p.cand_lang, sum(p.rate_pm)::BIGINT AS score
  FROM grams g JOIN profile p ON p.gram = g.gram
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand_lang) AS rk
  FROM scored
)
SELECT doc_id, lang, cand_lang AS predicted_lang, score
FROM ranked WHERE rk = 1
ORDER BY doc_id
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality signal: per-document Shannon entropy (bits)
    of the character distribution. Low entropy flags degenerate text
    (padding, keyboard mash, repeated boilerplate); high entropy flags
    random noise — pipelines gate on a band between the two.

    Per-char work is the interpreter trap (see ROADMAP §8: a per-char
    HOF ran 27× slower than the numpy kernel), so the distribution is
    computed in ONE Arrow-batched pandas_udf (numpy unique+bincount),
    like the winnow kernel — zero shuffles besides the final sort; at
    100 TB this is a map-only pass. The oracle recomputes it
    relationally (explode chars → freq → −Σ p·log2 p); both sides
    round to 6dp because float summation order differs across
    engines."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_chars long, n_unique long, entropy_bits double")
    def _char_stats(texts):  # pd.Series -> pd.DataFrame (struct rows)
        import numpy as np

        rows = []
        for t in texts:
            t = (t or "").lower()
            if not t:
                # matched by the length(text) > 0 pre-filter below —
                # kept only as a guard so the kernel can never crash
                rows.append((0, 0, 0.0))
                continue
            codes = np.fromiter((ord(c) for c in t), dtype=np.int64)
            _, counts = np.unique(codes, return_counts=True)
            p = counts / counts.sum()
            rows.append(
                (len(codes), len(counts), round(float(-(p * np.log2(p)).sum()), 6))
            )
        return pd.DataFrame(rows, columns=["n_chars", "n_unique", "entropy_bits"])

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    return (
        # empty/NULL text carries no char distribution: the oracle's
        # unnest(range(...)) naturally omits such docs, so the Spark
        # side must filter them too or the row counts diverge
        docs.filter(F.length("text") > 0)
        .select("doc_id", _char_stats("text").alias("s"))
        .select("doc_id", "s.n_chars", "s.n_unique", "s.entropy_bits")
        .orderBy("doc_id")
    )


_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id, substr(t, g.p, 1) AS ch
  FROM (SELECT doc_id, lower(text) AS t FROM documents),
       unnest(range(1, length(t) + 1)) AS g(p)
),
freq AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS u FROM freq GROUP BY 1)
SELECT f.doc_id, t.n AS n_chars, t.u AS n_unique,
       round(-sum((c * 1.0 / t.n) * log2(c * 1.0 / t.n)), 6) AS entropy_bits
FROM freq f JOIN tot t USING (doc_id)
GROUP BY f.doc_id, t.n, t.u
ORDER BY doc_id
"""


def text_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalization pass every LLM-prep pipeline runs before
    tokenization: casefold → strip non-alphanumerics → collapse
    whitespace. Pure JVM regexp expressions (no UDF, codegen'd);
    emits per-doc before/after stats plus a prefix probe so the
    transform is oracle-checkable without hashing megabytes of
    normalized text. Whitespace classes are spelled explicitly
    ([ \\t\\n\\r]) because Java's \\s and RE2's \\s disagree on
    vertical-tab."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 \t\n\r]", ""),
            "[ \t\n\r]+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        F.size(F.split(norm, " ")).alias("n_tokens_norm"),
        F.substring(norm, 1, 40).alias("norm_prefix"),
    ).orderBy("doc_id")


_NORMALIZE_SQL = """
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n\r]', '', 'g'),
                             '[ \t\n\r]+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id,
       length(text)                    AS n_chars_raw,
       length(norm)                    AS n_chars_norm,
       len(string_split(norm, ' '))    AS n_tokens_norm,
       substr(norm, 1, 40)             AS norm_prefix
FROM n
ORDER BY doc_id
"""


def lexical_rarity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative lexical rarity per document — the
    integer-exact cousin of LM-perplexity quality scoring (a float
    log-prob sum would be aggregation-order-dependent; counts are
    not): per doc, its distinct-word count, how many of its words are
    corpus hapaxes (document frequency 1 — typos, code, rare entities),
    and the df of its rarest word. High hapax share flags noise/OCR
    garbage; a high min_df flags boilerplate built entirely from
    ubiquitous words. One explode → distinct → df window (the same
    shingle-keyed shuffle shape as the dedup family) → per-doc
    aggregate. At 100 TB the (word, df) relation is the corpus
    vocabulary — thin, and shuffled on its own key."""
    from pyspark.sql import Window

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    with_df = words.withColumn(
        "df", F.count("*").over(Window.partitionBy("word"))
    )
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_hapax"),
            F.min("df").alias("min_df"),
        )
        .orderBy("doc_id")
    )


_RARITY_SQL = """
WITH words AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
with_df AS (
  SELECT doc_id, word, count(*) OVER (PARTITION BY word) AS df FROM words
)
SELECT doc_id,
       count(*)::BIGINT AS n_distinct_words,
       sum((df = 1)::BIGINT)::BIGINT AS n_hapax,
       min(df)::BIGINT AS min_df
FROM with_df
GROUP BY doc_id
ORDER BY doc_id
"""


def bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document — the
    conditional-structure cousin of [[lexical_rarity_stats]] (which only
    sees unigram document frequency): train bigram counts C(w1,w2) and
    left-context counts C(w1) on the corpus itself, then score each doc
    by its average conditional bigram probability in integer per-mille,
    p(w2|w1) ≈ (1000·C(w1,w2)) div C(w1). The classic
    perplexity-filter shape (KenLM-style corpus quality gating) with
    the float log-sum replaced by integer arithmetic so the score is
    aggregation-order independent and exactly oracle-able. Low
    avg/min scores flag token salad; 1000-ish scores flag boilerplate
    whose every transition is deterministic.

    Plan: the bigram stream is built JVM-side (transform over the
    token array — no explode-then-self-join), aggregated ONCE into
    the (w1,w2,c12) vocabulary relation (map-side partial combine);
    C(w1) is a window-sum over that small relation, not a second
    corpus pass. The stream then joins the vocabulary on (w1,w2)
    (auto-broadcast here; hash join on the bigram key at 100 TB) and
    aggregates per doc. Docs with <2 tokens have no bigrams and are
    excluded by construction — both engines agree."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    return _bigram_scores(docs)


def _bigram_scores(docs: DataFrame) -> DataFrame:
    """The scoring core over any (doc_id, text) relation (testable on
    hand-built corpora)."""
    bi = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks) - 1), "
                    "(w, i) -> struct(w AS w1, toks[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    from pyspark.sql import Window

    vocab = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    )
    p = F.expr("(1000 * c12) div c1")
    return (
        bi.join(vocab, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum((1000 * c12) div c1) div count(*)").alias("lm_score_permille"),
            F.min(p).alias("min_bigram_permille"),
        )
        .orderBy("doc_id")
    )


_BIGRAM_LM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
bi AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(l))) AS i)
),
vocab AS (
  SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1
  FROM (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2)
)
SELECT b.doc_id,
       count(*)::BIGINT AS n_bigrams,
       (sum((1000 * v.c12) // v.c1) // count(*))::BIGINT AS lm_score_permille,
       min((1000 * v.c12) // v.c1)::BIGINT AS min_bigram_permille
FROM bi b JOIN vocab v ON b.w1 = v.w1 AND b.w2 = v.w2
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


def lang_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap of per-language vocabularies — the
    cross-corpus contamination diagnostic: two languages sharing a
    large vocabulary fraction signals boilerplate, code-switching, or
    mislabeled documents leaking between splits, and it directly
    predicts where [[language_id_ngram]] confusions will land.

    Plan: ONE exchange of the exploded token stream — group by word
    with a map-side-combined collect_set(lang) (set semantics make the
    old separate (lang, word) DISTINCT pass redundant: it cost a
    second full exchange of the same exploded corpus under a different
    key), then the INVERTED-INDEX pair emission: emit C(L,2) pairs
    JVM-side from each word's ≤L language set — never a vocabulary
    self-join, so the shuffle carries each word once no matter how
    many corpora share it (the same shape as the dedup containment
    family). Per-language vocabulary sizes re-aggregate the SAME
    per-word relation (|vocab| rows, lazily checkpointed so its two
    consumers share one corpus pass) instead of re-scanning the
    corpus. Integer per-mille Jaccard via |A∩B| / (|A|+|B|−|A∩B|)."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    byword = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("lang")).alias("langs"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        byword.select(F.explode("langs").alias("lang"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    inter = (
        byword
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(langs, (x, i) -> "
                    "transform(slice(langs, i + 2, size(langs)), "
                    "y -> struct(x AS lang_a, y AS lang_b))))"
                )
            ).alias("p")
        )
        .select("p.lang_a", "p.lang_b")
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("lang").alias("lang_a"), F.col("vocab").alias("va")), "lang_a")
        .join(sizes.select(F.col("lang").alias("lang_b"), F.col("vocab").alias("vb")), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            F.expr("(1000 * n_common) div (va + vb - n_common)").alias("jaccard_permille"),
        )
        .orderBy("lang_a", "lang_b")
    )


_LANG_OVERLAP_SQL = """
WITH lw AS (
  SELECT DISTINCT lang, word
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
),
sizes AS (SELECT lang, count(*) AS vocab FROM lw GROUP BY 1),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_common
  FROM lw a JOIN lw b ON a.word = b.word AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT i.lang_a, i.lang_b, i.n_common,
       ((1000 * i.n_common) // (sa.vocab + sb.vocab - i.n_common))::BIGINT AS jaccard_permille
FROM inter i
JOIN sizes sa ON sa.lang = i.lang_a
JOIN sizes sb ON sb.lang = i.lang_b
ORDER BY i.lang_a, i.lang_b
"""


VOCAB_SIZE = 16


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report: fit a frequency vocabulary of the
    top ``VOCAB_SIZE`` corpus words (ties broken lexicographically),
    then score every document's out-of-vocabulary token share — the
    standard pre-training check that a tokenizer's vocab actually
    covers the corpus it is about to encode (high OOV → the corpus
    will fragment into byte fallbacks and waste sequence length).

    Two phases over ONE exploded token relation: (1) vocab fit =
    partial-agged word counts + TakeOrdered top-V (never a global
    sort); (2) scoring = broadcast LEFT join of the V-row vocab
    against the token stream + one per-doc partial agg. Rates are
    integer per-mille (floor), exact across engines.

    Scale: phase 1 shuffles ≤ |vocab| rows after map-side combine;
    phase 2 is a broadcast probe + groupBy(doc_id) that rides the
    same scan — no quadratic anything, no Python.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(1000 * n_oov) div n_tokens").alias("oov_per_mille"),
        )
        .orderBy("doc_id")
    )


_VOCAB_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT {VOCAB_SIZE}
  )
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       count(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
       ((1000 * count(*) FILTER (WHERE v.tok IS NULL)) // count(*))::BIGINT
         AS oov_per_mille
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


PMI_MIN_PAIR_COUNT = 20  # support floor: PMI is noise below this
PMI_TOPK = 20


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-word collocations by pointwise mutual information
    — the classic collocation-extraction table (Church & Hanks '90)
    that surfaces multi-word units ("new york", "machine learning")
    a word-level tokenizer should treat as one token. PMI =
    log(p(w1,w2) / (p(w1)·p(w2))); since log is monotone the ranking
    only needs the RATIO, carried as an exact integer
    numerator/denominator pair (``c12·N²`` / ``M·c1·c2``) — the
    hash-compared columns never touch a float or a libm log; the
    float division is used ONLY to order, on identical operands in
    both engines (the BM25 discipline, curation.py). A support floor
    kills the hapax-pair noise PMI is notorious for.

    Plan: bigrams are built JVM-side inside codegen (transform over
    the token array — no self-join), aggregated once with map-side
    combine; unigram counts and the two grand totals are tiny
    broadcasts. At 100 TB this is two corpus scans + one vocab²-bound
    aggregate; the ×N² products need a decimal(38,0) cast once token
    counts approach 2^26 (documented here, BIGINT-exact at every
    tested SF)."""
    toks = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1), "
                "(w, i) -> struct(w AS w1, toks[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    uni = toks.select(F.explode("toks").alias("w"))
    pair_counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    word_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = word_counts.agg(F.sum("cw").alias("n_tokens")).crossJoin(
        pair_counts.agg(F.sum("c12").alias("m_bigrams"))
    )
    scored = (
        pair_counts.filter(F.col("c12") >= PMI_MIN_PAIR_COUNT)
        .join(
            F.broadcast(
                word_counts.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1")
            ),
            "w1",
        )
        .join(
            F.broadcast(
                word_counts.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            F.expr("c12 * n_tokens * n_tokens").alias("pmi_num"),
            F.expr("m_bigrams * c1 * c2").alias("pmi_den"),
        )
    )
    return scored.orderBy(
        (F.col("pmi_num") / F.col("pmi_den")).desc(), "w1", "w2"
    ).limit(PMI_TOPK)


_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
bi AS (
  SELECT l[i] AS w1, l[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(l))) AS i)
),
uni AS (SELECT unnest(l) AS w FROM toks),
pc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
wc AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
t AS (
  SELECT (SELECT sum(cw) FROM wc)::BIGINT AS n_tokens,
         (SELECT sum(c12) FROM pc)::BIGINT AS m_bigrams
)
SELECT pc.w1, pc.w2, pc.c12, a.cw AS c1, b.cw AS c2,
       (pc.c12 * n_tokens * n_tokens)::BIGINT AS pmi_num,
       (m_bigrams * a.cw * b.cw)::BIGINT AS pmi_den
FROM pc
JOIN wc a ON a.w = pc.w1
JOIN wc b ON b.w = pc.w2, t
WHERE pc.c12 >= {PMI_MIN_PAIR_COUNT}
ORDER BY (pc.c12 * n_tokens * n_tokens) * 1.0 / (m_bigrams * a.cw * b.cw) DESC,
         pc.w1, pc.w2
LIMIT {PMI_TOPK}
"""


def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the [[language_id_ngram]] classifier
    against the labeled ``lang`` column — the QA face a corpus team
    watches before trusting auto-language routing: per (true,
    predicted) cell, the doc count and its per-mille share of the
    true language's row (row recall on the diagonal).

    Scale: aggregates the classifier's per-doc output down to
    |langs|² rows; the per-row totals come from a window over that
    tiny table (one lineage — the classifier pipeline runs once).
    All-integer (floor per-mille), cross-engine exact."""
    preds = language_id_ngram(spark, sf_dir).select(
        F.col("lang").alias("true_lang"), "predicted_lang"
    )
    return (
        preds.groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "true_lang",
            "predicted_lang",
            "n_docs",
            F.expr(
                "1000 * n_docs div (sum(n_docs) OVER (PARTITION BY true_lang))"
            ).alias("share_permille"),
        )
        .orderBy("true_lang", "predicted_lang")
    )


_LANG_CONFUSION_SQL = f"""
WITH preds AS ({_LANG_ID_SQL})
SELECT lang AS true_lang, predicted_lang,
       count(*)::BIGINT AS n_docs,
       (1000 * count(*) // (sum(count(*)) OVER (PARTITION BY lang)))::BIGINT
         AS share_permille
FROM preds
GROUP BY 1, 2
ORDER BY 1, 2
"""


# Zipf audit: probe the rank-frequency curve at powers of two. Under
# Zipf's law rank·freq is roughly constant, so the product column IS
# the audit signal — no log-log regression (libm-dependent) needed.
ZIPF_MAX_RANK_LOG2 = 13


def zipf_rank_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary rank-frequency audit at ranks 1, 2, 4, …, 2^13:
    the classic sanity check that a text corpus is natural language
    (rank·freq ≈ constant) rather than boilerplate or generator
    output (flat head or truncated tail). Reported per probe rank:
    the token, its frequency, and rank·freq — all integers, with the
    (freq DESC, token ASC) total order making ranks deterministic.

    Scale: one token-count shuffle (map-side combined); the global
    rank over the vocabulary-sized table then runs on the two-pass
    range kernel (``queries.prefix.ranged_prefix`` — B ranges, local
    row_numbers, B-row broadcast rank offsets), so a 100 TB
    vocabulary of millions of rows never lands on one executor; the
    14-row probe filter applies to the composed exact rank."""
    from ..queries.prefix import ranged_prefix

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    vocab = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    probes = [2**k for k in range(ZIPF_MAX_RANK_LOG2 + 1)]
    return (
        ranged_prefix(vocab, [F.desc("freq"), F.col("token")], rank_col="rank")
        .filter(F.col("rank").isin(probes))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "token",
            "freq",
            (F.col("rank") * F.col("freq")).cast("bigint").alias("rank_x_freq"),
        )
        .orderBy("rank")
    )


_ZIPF_SQL = f"""
WITH vocab AS (
  SELECT token, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
  GROUP BY token
),
ranked AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM vocab
)
SELECT rank::BIGINT AS rank, token, freq,
       (rank * freq)::BIGINT AS rank_x_freq
FROM ranked
WHERE rank IN ({", ".join(str(2**k) for k in range(ZIPF_MAX_RANK_LOG2 + 1))})
ORDER BY rank
"""


TOP_SIGNATURE_CELLS = 20


def source_signature_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: the TOP_SIGNATURE_CELLS
    (source, word) cells with the largest χ² contribution against
    the independence hypothesis "word usage doesn't depend on
    source" — the domain-signature report a corpus team reads to
    spot boilerplate-dominated or off-distribution sources before
    mixing. Cell statistic: (O−E)²/E with E = R·C/N, carried as the
    exact integer ⌊10⁶·(O·N − R·C)²/(N·R·C)⌋ (decimal/HUGEINT cross
    multiplication — no float χ²; both engines floor identically;
    exact while 10⁶·(O·N−R·C)² fits decimal(38) — corpora past ~10⁹
    tokens would scale the 10⁶ down or bucket the marginals).

    Scale: ONE (source, word) aggregate over the corpus (map-side
    combined), CHECKPOINTED — the contingency relation then feeds the
    three marginal aggregates without re-scanning the corpus. The
    marginals attach as joins (per-source totals broadcast, per-word
    totals word-keyed, grand total a 1-row broadcast) — the earlier
    window form computed the grand total with an UNPARTITIONED window
    over the vocabulary×sources relation (the last single-partition
    window the round-5 warning hunt found; at 100 TB that relation is
    billions of cells on one executor). Top-K plans as TakeOrdered.
    Ties break (word, source) so the cut is deterministic."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    cells = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    rows_m = cells.groupBy("source").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("word").agg(F.sum("o").alias("c"))
    n_m = rows_m.agg(F.sum("r").alias("n"))
    marg = (
        cells.join(F.broadcast(rows_m), "source")
        .join(cols_m, "word")
        .crossJoin(F.broadcast(n_m))
        .select("source", "word", "o", "r", "c", "n")
    )
    chi = marg.select(
        "source",
        "word",
        "o",
        F.expr(
            "(1000000 * (CAST(o AS DECIMAL(19,0)) * n - CAST(r AS DECIMAL(19,0)) * c)"
            "         * (CAST(o AS DECIMAL(19,0)) * n - CAST(r AS DECIMAL(19,0)) * c))"
            " div (CAST(n AS DECIMAL(38,0)) * r * c)"
        )
        .cast("bigint")
        .alias("chi2_micros"),
    )
    return chi.orderBy(F.desc("chi2_micros"), "word", "source").limit(
        TOP_SIGNATURE_CELLS
    )


_SIGNATURE_SQL = f"""
WITH cells AS (
  SELECT source, t.word, count(*)::BIGINT AS o
  FROM documents,
       UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS t(word)
  GROUP BY 1, 2
),
marg AS (
  SELECT source, word, o,
         sum(o) OVER (PARTITION BY source) AS r,
         sum(o) OVER (PARTITION BY word) AS c,
         sum(o) OVER () AS n
  FROM cells
)
SELECT source, word, o,
       ((1000000 * (o::HUGEINT * n - r::HUGEINT * c)
                 * (o::HUGEINT * n - r::HUGEINT * c))
        // (n::HUGEINT * r * c))::BIGINT AS chi2_micros
FROM marg
ORDER BY chi2_micros DESC, word, source
LIMIT {TOP_SIGNATURE_CELLS}
"""



# Code-detector heuristics. The char classes are spelled identically
# for Java regex (Spark) and RE2 (DuckDB): only literal characters
# inside the class, ']' escaped, '-' placed last so neither engine
# reads a range.
CODE_SYMBOL_CLASS = r"[{}()\[\];=<>#_|&*+-]"
CODE_SYM_PERMILLE = 60   # >=6.0% symbol chars
CODE_DIGIT_PERMILLE = 150  # or >=15% digit chars


def code_prose_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose triage of the corpus — the router every mixed
    web-scrape pipeline needs before language-specific filtering
    (prose goes through stopword/LM gates that would shred source
    code; code goes to a lexer-based path). Heuristics: per-mille of
    code-symbol characters ({}()[];=<>#_|&*+-) and of digits, both
    integer-exact; verdict 'code' when either crosses its threshold.
    Reported per (source, verdict): docs, mean symbol/digit per-mille
    (integer div) — the audit a curator reads to spot a source whose
    "prose" is actually config dumps.

    Cross-engine: symbol counting is length(text) −
    length(regexp_replace(text, class, '')) — pure counting, no
    capture semantics to diverge; the class contains only literal
    chars valid in both Java regex and RE2. Scale: one projection +
    one (source, verdict) rollup, no joins, no windows."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    n_chars = F.length("text")
    n_sym = n_chars - F.length(F.regexp_replace("text", CODE_SYMBOL_CLASS, ""))
    n_digit = n_chars - F.length(F.regexp_replace("text", "[0-9]", ""))
    # widen to bigint BEFORE the ×1000: length() is int32 and the
    # product wraps on multi-MB documents (review r5 finding — DuckDB
    # length() is BIGINT-native and would diverge exactly there)
    scored = docs.select(
        "source",
        (F.lit(1000) * n_sym.cast("bigint")).alias("_sym_k"),
        (F.lit(1000) * n_digit.cast("bigint")).alias("_dig_k"),
        n_chars.cast("bigint").alias("_n"),
    ).select(
        "source",
        F.expr("_sym_k div greatest(_n, 1)").alias("sym_permille"),
        F.expr("_dig_k div greatest(_n, 1)").alias("digit_permille"),
    )
    verdict = (
        F.when(
            (F.col("sym_permille") >= CODE_SYM_PERMILLE)
            | (F.col("digit_permille") >= CODE_DIGIT_PERMILLE),
            F.lit("code"),
        ).otherwise(F.lit("prose"))
    )
    return (
        scored.withColumn("verdict", verdict)
        .groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(sym_permille) div count(1)").alias("mean_sym_permille"),
            F.expr("sum(digit_permille) div count(1)").alias("mean_digit_permille"),
        )
        .orderBy("source", "verdict")
    )


_CODE_PROSE_SQL = f"""
WITH scored AS (
  SELECT source,
         (1000 * (length(text) - length(regexp_replace(text, '{CODE_SYMBOL_CLASS}', '', 'g'))))
           // greatest(length(text), 1) AS sym_permille,
         (1000 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))))
           // greatest(length(text), 1) AS digit_permille
  FROM documents
),
v AS (
  SELECT source, sym_permille, digit_permille,
         CASE WHEN sym_permille >= {CODE_SYM_PERMILLE}
                OR digit_permille >= {CODE_DIGIT_PERMILLE}
              THEN 'code' ELSE 'prose' END AS verdict
  FROM scored
)
SELECT source, verdict, count(*)::BIGINT AS n_docs,
       (sum(sym_permille) // count(*))::BIGINT AS mean_sym_permille,
       (sum(digit_permille) // count(*))::BIGINT AS mean_digit_permille
FROM v GROUP BY source, verdict
ORDER BY source, verdict
"""



def hof_functions_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedicated higher-order-function face: transform / filter /
    exists / forall / aggregate / zip_with over the word arrays —
    the lambda surface every shingle/cosine kernel in this repo
    composes, exercised once explicitly with a DuckDB list_* oracle
    (list_transform/list_filter/list_bool_or/list_bool_and/
    list_reduce/element-paired transform). All-integer outputs.
    NOTE the repo-wide HOF rule (ROADMAP): single-layer lambdas like
    these run fine; HEAVY per-row kernels go to Arrow instead —
    this face is the light end of that spectrum, deliberately.

    Scale: pure projection — per-row lambda evaluation at scan
    speed, no shuffle except the display sort."""
    # NULL text filtered on BOTH sides: Spark's exists/forall/aggregate
    # propagate NULL over a null array while the oracle's coalesced
    # list_* forms don't — excluding the row keeps the engines
    # identical on any corpus (review r5 pass 3)
    docs = load_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.col("text").isNotNull()
    )
    words = F.split(F.col("text"), " ")
    lens = F.transform(words, lambda w: F.length(w))
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).alias("sum_word_len"),
        F.size(F.filter(words, lambda w: F.length(w) >= 6)).alias("n_long_words"),
        F.exists(words, lambda w: F.length(w) >= 10).alias("has_very_long"),
        F.forall(words, lambda w: F.length(w) > 0).alias("all_nonempty"),
        F.aggregate(
            F.zip_with(lens, F.slice(lens, 2, F.size(lens) - 1), lambda a, b: F.abs(a - b)),
            F.lit(0),
            lambda acc, d: acc + F.coalesce(d, F.lit(0)),
        ).alias("len_variation"),
    ).orderBy("doc_id")


_HOF_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  WHERE text IS NOT NULL
),
l AS (
  SELECT doc_id, words, list_transform(words, x -> length(x)) AS lens
  FROM w
)
SELECT doc_id,
       len(words) AS n_words,
       list_reduce(list_prepend(0, lens), (a, x) -> a + x) AS sum_word_len,
       len(list_filter(words, x -> length(x) >= 6)) AS n_long_words,
       coalesce(list_bool_or(list_transform(words, x -> length(x) >= 10)), FALSE)
         AS has_very_long,
       coalesce(list_bool_and(list_transform(words, x -> length(x) > 0)), TRUE)
         AS all_nonempty,
       list_reduce(
         list_prepend(0, [abs(lens[i] - lens[i + 1]) FOR i IN range(1, len(lens))]),
         (a, x) -> a + x
       ) AS len_variation
FROM l
ORDER BY doc_id
"""


BURROWS_TOP_WORDS = 30


def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every pair of corpus sources — the
    classic stylometric attribution distance (Burrows 2002; Argamon
    2008 reads it as axis-scaled Manhattan): over the TOP-K corpus
    words, z-score each source's relative frequency per word, and
    Delta(a,b) = mean_w |z_aw − z_bw|. [[source_signature_chisq]]
    asks "is this source's token mix anomalous vs the corpus?";
    Delta gives the full source×source distance matrix — the
    input to "are src3 and src7 the same crawler in disguise?", the
    provenance question dedup cannot answer because near-identical
    STYLE is not near-identical TEXT.

    Exactness: relative frequencies are integer parts-per-million;
    |z_a − z_b| = |f_a − f_b|·√(S(S−1)) / √(S·Σf² − (Σf)²) needs only
    the per-word dispersion, so each (pair, word) term is ONE
    identical IEEE DAG over exact integers, micro-FLOORED before the
    fixed K-term per-pair sum (the CMH lever); delta_milli is a final
    truncating div. Zero-dispersion words are skipped on both engines
    alike (they carry no signal).

    Scale: one (source, word) rollup is the only corpus contact;
    top-K words via TakeOrderedAndProject on the word rollup; the
    z/pair machinery runs on the |sources|×K bounded relation and the
    |sources|² pair join is broadcast (source dictionaries are small
    by construction — this is a per-PROVENANCE report)."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    sw = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    totals = sw.groupBy("source").agg(F.sum("cnt").alias("tot"))
    top = (
        sw.groupBy("word")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(BURROWS_TOP_WORDS)
        .select("word")
    )
    # complete the sources × top-words grid (a source missing a top
    # word has frequency 0, not a missing row)
    grid = (
        totals.crossJoin(F.broadcast(top))
        .join(sw, ["source", "word"], "left")
        .select(
            "source",
            "word",
            F.expr(
                "(1000000 * CAST(coalesce(cnt, 0) AS DECIMAL(38,0))) div tot"
            ).alias("f"),
        )
        .localCheckpoint(eager=False)
    )
    # grid self-aliases AND derives disp — rename disp's key so the
    # three-way join never references the shared lineage ambiguously
    disp = grid.groupBy(F.col("word").alias("dword")).agg(
        F.count(F.lit(1)).alias("s"),
        F.sum(F.col("f").cast("decimal(38,0)")).alias("sf"),
        F.sum(F.expr("CAST(f AS DECIMAL(38,0)) * f")).alias("sff"),
    )
    a, b = grid.alias("a"), grid.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.word") == F.col("b.word"))
        .filter(F.col("a.source") < F.col("b.source"))
        .join(F.broadcast(disp), F.col("a.word") == F.col("dword"))
        .filter("s * sff - sf * sf > 0")
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.expr(
                "CAST(floor(1000000 * abs(CAST(a.f - b.f AS DOUBLE))"
                " * sqrt(CAST(s AS DOUBLE) * (s - 1))"
                " / sqrt(CAST(s AS DOUBLE) * CAST(sff AS DOUBLE)"
                "        - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("term"),
            F.lit(1).alias("one"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("term").alias("tsum"), F.sum("one").alias("k_words"))
        .select(
            "source_a",
            "source_b",
            F.col("k_words").cast("bigint").alias("k_words"),
            F.expr("CAST((tsum div 1000) div k_words AS BIGINT)").alias(
                "delta_milli"
            ),
        )
        .orderBy("source_a", "source_b")
    )


_BURROWS_SQL = f"""
WITH sw AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
swc AS (SELECT source, word, count(*)::BIGINT AS cnt FROM sw GROUP BY 1, 2),
totals AS (SELECT source, sum(cnt)::BIGINT AS tot FROM swc GROUP BY 1),
top AS (
  SELECT word FROM (SELECT word, sum(cnt) AS c FROM swc GROUP BY 1)
  ORDER BY c DESC, word LIMIT {BURROWS_TOP_WORDS}
),
grid AS (
  SELECT totals.source, top.word,
         (1000000 * coalesce(swc.cnt, 0)::HUGEINT) // tot AS f
  FROM totals CROSS JOIN top
  LEFT JOIN swc ON swc.source = totals.source AND swc.word = top.word
),
disp AS (
  SELECT word, count(*)::BIGINT AS s, sum(f::HUGEINT) AS sf,
         sum(f::HUGEINT * f) AS sff
  FROM grid GROUP BY 1
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(floor(1000000 * abs(CAST(a.f - b.f AS DOUBLE))
              * sqrt(CAST(s AS DOUBLE) * (s - 1))
              / sqrt(CAST(s AS DOUBLE) * CAST(sff AS DOUBLE)
                     - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)))
              AS BIGINT) AS term
  FROM grid a JOIN grid b ON a.word = b.word AND a.source < b.source
  JOIN disp ON disp.word = a.word
  WHERE s * sff - sf * sf > 0
)
SELECT source_a, source_b, count(*)::BIGINT AS k_words,
       CAST((sum(term) // 1000) // count(*) AS BIGINT) AS delta_milli
FROM pairs
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


QUERIES = (
    (burrows_delta_sources, _BURROWS_SQL),
    (text_token_stats, _TOKEN_STATS_SQL),
    (text_quality_language, _QUALITY_SQL),
    (text_fingerprint, _FINGERPRINT_SQL),
    (language_id_ngram, _LANG_ID_SQL),
    (text_normalize_stats, _NORMALIZE_SQL),
    (text_char_entropy, _ENTROPY_SQL),
    (lexical_rarity_stats, _RARITY_SQL),
    (bigram_lm_doc_scores, _BIGRAM_LM_SQL),
    (lang_vocab_overlap_matrix, _LANG_OVERLAP_SQL),
    (vocab_oov_rate, _VOCAB_OOV_SQL),
    (pmi_collocations, _PMI_SQL),
    (language_id_confusion, _LANG_CONFUSION_SQL),
    (zipf_rank_frequency_audit, _ZIPF_SQL),
    (source_signature_chisq, _SIGNATURE_SQL),
    (code_prose_detector, _CODE_PROSE_SQL),
    (hof_functions_documents, _HOF_SQL),
)
