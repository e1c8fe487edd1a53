"""Byte-pair-encoding merge statistics over ``documents`` — the
inner loop of tokenizer training (count adjacent symbol pairs,
rank candidate merges). [beyond-reference] surface (SURVEY.md §2.2,
LLM-pipeline tokenization family).

The trick that makes BPE trainable at corpus scale is counting pairs
on the WORD DICTIONARY, not the corpus: Zipf's law makes distinct
words orders of magnitude fewer than word occurrences, so the
quadratic-ish per-word symbol work runs on the dictionary while the
corpus contributes only a word-count aggregation (one shuffle of the
words themselves). This query implements exactly that two-stage
shape for the first merge round (symbols = characters):

  corpus --split/explode--> words --groupBy--> (word, n)   [big agg]
  dict --sequence/explode--> adjacent char pairs × n       [small]
  pairs --groupBy--> merge candidates, top-20              [tiny]

Words split on the single-space convention the rest of the llm/
modules use (string_split(text, ' ') on both engines — no regex
class to diverge); ties in the merge ranking break lexicographically
so top-20 is deterministic.

Scale: stage 1 is the only corpus-sized shuffle (word strings,
map-side combined). Stage 2's explode factor is word length — bounded
by the dictionary, not the corpus. Later BPE rounds would re-segment
the dictionary against the chosen merges (iterate this query with a
merges broadcast); the corpus agg is computed once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..queries.base import load

TOP_MERGES = 20


def bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select("w", "n", F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"))
        .select(F.expr("substr(w, i, 2)").alias("pair"), "n")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(TOP_MERGES)
    )


_BPE_SQL = f"""
WITH words AS (
  SELECT t.w
  FROM documents,
       UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS t(w)
),
wc AS (SELECT w, count(*) AS n FROM words GROUP BY w),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, n
  FROM wc, UNNEST(generate_series(1, length(w) - 1)) AS r(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(sum(n) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT {TOP_MERGES}
"""


# Iterative trainer: the number of merge rounds. Small on purpose —
# each round is one dictionary-sized job; the POINT is the loop
# structure (argmax → re-segment → recount), not a production vocab.
N_TRAIN_MERGES = 6
_US = "\x1f"  # symbol delimiter; never occurs in whitespace-split words


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL iterative BPE training for N_TRAIN_MERGES rounds — the
    actual Sennrich '16 loop, not just round one's pair count
    ([[bpe_pair_merge_counts]]): each round picks the most frequent
    adjacent symbol pair over the word DICTIONARY (weighted by word
    count), merges it greedily left-to-right in every word, and
    recounts. Returns the learned merge table in order.

    Distribution shape: the corpus contributes ONE word-count shuffle
    (the dictionary is localCheckpoint-ed so the loop never rescans
    the corpus); each round is a dictionary-sized aggregation whose
    single winning row is the only thing the driver ever sees — the
    same "iterate on a tiny relation, collect one scalar per round"
    layout as the k-means Lloyd loop. Re-segmentation uses a
    delimiter-wrapped string form (⟨US⟩sym⟨US⟩ per symbol) so plain
    non-regex replace() — identical left-to-right non-overlapping
    semantics in Spark and DuckDB — implements the BPE greedy merge
    exactly; ties break (count DESC, sym_a, sym_b), both engines
    binary collation."""
    merges, _ = _trained(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank long, sym_a string, sym_b string, merged string, pair_count long",
    ).orderBy("merge_rank")


def _trained(spark: SparkSession, sf_dir: str) -> tuple[list[tuple], DataFrame]:
    """(merge table, final re-segmented dictionary) — the training
    run is memoized per (session, corpus) so the merge-table face
    and the encoded-vocabulary face share one loop."""

    def build():
        wc = (
            load(spark, sf_dir, "documents")
            .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "n",
                F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias(
                    "arr"
                ),
            )
            .localCheckpoint(eager=True)
        )
        return _train_merges(wc)

    return memo.shared(spark, sf_dir, "bpe_trained", build)


def _train_merges(wc: DataFrame) -> tuple[list[tuple], DataFrame]:
    """The merge loop over any (n, arr) dictionary DataFrame —
    testable against a sequential Python BPE reference. Returns the
    merge table AND the final re-segmented dictionary."""
    d = wc
    merges: list[tuple] = []
    for r in range(1, N_TRAIN_MERGES + 1):
        top = (
            d.filter(F.size("arr") >= 2)
            .select(
                "n", "arr", F.explode(F.expr("sequence(1, size(arr) - 1)")).alias("i")
            )
            .select("n", F.expr("arr[i - 1]").alias("s1"), F.expr("arr[i]").alias("s2"))
            .groupBy("s1", "s2")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "s1", "s2")
            .limit(1)
            .collect()
        )
        if not top:
            break
        s1, s2, cnt = top[0].s1, top[0].s2, top[0].cnt
        merges.append((r, s1, s2, s1 + s2, cnt))
        pattern, repl = _US + s1 + _US + _US + s2 + _US, _US + s1 + s2 + _US
        wrapped = F.concat_ws(
            "", F.transform("arr", lambda s: F.concat(F.lit(_US), s, F.lit(_US)))
        )
        d = d.select(
            "n",
            F.filter(
                F.split(F.replace(wrapped, F.lit(pattern), F.lit(repl)), _US),
                lambda x: x != "",
            ).alias("arr"),
        ).localCheckpoint(eager=True)
    return merges, d


def _bpe_train_sql() -> str:
    head = """WITH wc AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS n
  FROM (SELECT t.w FROM documents,
        UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS t(w))
  GROUP BY w
),
d0 AS MATERIALIZED (
  SELECT n, [substr(w, CAST(i AS INTEGER), 1) FOR i IN range(1, length(w) + 1)] AS arr
  FROM wc
)"""
    rounds = []
    for r in range(1, N_TRAIN_MERGES + 1):
        rounds.append(f""",
p{r} AS (
  SELECT arr[CAST(i AS INTEGER)] AS s1, arr[CAST(i AS INTEGER) + 1] AS s2,
         sum(n)::BIGINT AS cnt
  FROM d{r - 1}, UNNEST(range(1, len(arr))) AS t(i)
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (
  SELECT s1, s2, cnt FROM p{r} ORDER BY cnt DESC, s1, s2 LIMIT 1
),
d{r} AS MATERIALIZED (
  -- coalesce to a never-occurring sentinel (chr(30)): when merges
  -- exhaust before this round, m{r} is EMPTY, the scalar subqueries
  -- are NULL, and replace(s, NULL, NULL) would null every arr —
  -- silently emptying d{r}..dN and the encoded-vocab face with them.
  -- The guard makes an exhausted round a no-op, matching the Spark
  -- loop's early break (which keeps the last dictionary).
  SELECT n, list_filter(string_split(
    replace(
      array_to_string(list_transform(arr, s -> chr(31) || s || chr(31)), ''),
      coalesce((SELECT chr(31) || s1 || chr(31) || chr(31) || s2 || chr(31) FROM m{r}), chr(30)),
      coalesce((SELECT chr(31) || s1 || s2 || chr(31) FROM m{r}), chr(30))
    ), chr(31)), x -> x <> '') AS arr
  FROM d{r - 1}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {r}::BIGINT AS merge_rank, s1 AS sym_a, s2 AS sym_b,"
        f" s1 || s2 AS merged, cnt AS pair_count FROM m{r}"
        for r in range(1, N_TRAIN_MERGES + 1)
    )
    return f"{head}{''.join(rounds)}\nSELECT * FROM (\n{union}\n) ORDER BY merge_rank"


_BPE_TRAIN_SQL = _bpe_train_sql()


TOP_VOCAB = 20


def bpe_vocab_after_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE face of BPE training: after applying the
    N_TRAIN_MERGES learned merges, the TOP_VOCAB most frequent
    symbols in the corpus (occurrences weighted by word count) plus
    each symbol's length — the vocabulary report that shows merges
    actually displacing raw characters. Shares the memoized training
    run with [[bpe_train_merges]]; this face only explodes the final
    re-segmented dictionary and counts. Ties break (count DESC,
    symbol) so the cut is deterministic.

    Oracle: the same unrolled 6-round CTE chain, read at d6 — the
    encoded dictionary IS the last training state."""
    _, d_final = _trained(spark, sf_dir)
    return (
        d_final.select("n", F.explode("arr").alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("n").alias("occurrences"))
        .select(
            "symbol",
            F.length("symbol").cast("bigint").alias("sym_len"),
            "occurrences",
        )
        .orderBy(F.desc("occurrences"), "symbol")
        .limit(TOP_VOCAB)
    )


def _bpe_vocab_sql() -> str:
    # reuse the training CTE chain up to the final dictionary d{N}
    head = _BPE_TRAIN_SQL.split("\nSELECT * FROM (")[0]
    return f"""{head}
SELECT t.symbol,
       length(t.symbol)::BIGINT AS sym_len,
       sum(n)::BIGINT AS occurrences
FROM d{N_TRAIN_MERGES}, UNNEST(arr) AS t(symbol)
GROUP BY t.symbol
ORDER BY occurrences DESC, symbol
LIMIT {TOP_VOCAB}
"""


def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: how many BPE tokens the
    trained tokenizer spends per word and per character in each slice
    of the corpus — THE acceptance metric for a tokenizer (a source
    whose fertility is far above the corpus mean is being
    over-fragmented, which silently taxes its effective context
    length and training compute share). Reported as exact integer
    micros: tokens_per_word_micro = 10⁶·n_tokens div n_words and
    chars_per_token_micro = 10⁶·n_chars div n_tokens.

    Scale shape — the Zipf split again: the corpus contributes ONE
    per-(source, word) count aggregation; tokens-per-word comes from
    the memoized trained dictionary ([[bpe_train_merges]]'s final
    re-segmented state — concatenating a word's symbols reconstructs
    the word, so the dictionary joins back by that key), and the
    join is dictionary×sources sized, never corpus sized. Sharing
    the memo means this face costs one groupBy + one hash join on
    top of training that already ran."""
    swc = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _, d_final = _trained(spark, sf_dir)
    tok = d_final.select(
        F.concat_ws("", "arr").alias("w"),
        F.size("arr").cast("bigint").alias("n_tok"),
    )
    return (
        swc.join(tok, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.length("w") * F.col("cnt")).alias("n_chars"),
            F.sum(F.col("n_tok") * F.col("cnt")).alias("n_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("1000000 * n_tokens div n_words").alias("tokens_per_word_micro"),
            F.expr("1000000 * n_chars div n_tokens").alias("chars_per_token_micro"),
        )
        .orderBy("source")
    )


def _fertility_sql() -> str:
    head = _BPE_TRAIN_SQL.split("\nSELECT * FROM (")[0]
    return f"""{head},
swc AS (
  SELECT source, t.w, count(*)::BIGINT AS cnt
  FROM documents,
       UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS t(w)
  GROUP BY 1, 2
),
tok AS (
  SELECT array_to_string(arr, '') AS w, len(arr)::BIGINT AS n_tok
  FROM d{N_TRAIN_MERGES}
),
agg AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_words,
         CAST(sum(length(swc.w) * cnt) AS BIGINT) AS n_chars,
         CAST(sum(n_tok * cnt) AS BIGINT) AS n_tokens
  FROM swc JOIN tok ON swc.w = tok.w
  GROUP BY source
)
SELECT source, n_words, n_chars, n_tokens,
       CAST(1000000 * n_tokens // n_words AS BIGINT) AS tokens_per_word_micro,
       CAST(1000000 * n_chars // n_tokens AS BIGINT) AS chars_per_token_micro
FROM agg
ORDER BY source
"""


QUERIES = (
    (bpe_pair_merge_counts, _BPE_SQL),
    (bpe_train_merges, _BPE_TRAIN_SQL),
    (bpe_vocab_after_merges, _bpe_vocab_sql()),
    (tokenizer_fertility_report, _fertility_sql()),
)
