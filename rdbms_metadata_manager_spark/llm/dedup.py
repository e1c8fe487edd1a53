"""Deduplication operators over the ``documents`` table.

[beyond-reference] surface (SURVEY.md §2.2): exact dedup, n-gram
Jaccard near-dup, MinHash+LSH banding, SimHash. All hashes are
md5-derived (llm.hashing) so every query has an exact DuckDB oracle.

Scale design (the 100 TB story):
- Exact dedup is a hash-groupBy — one shuffle on the 128-bit text
  hash, trivially parallel.
- N-gram Jaccard uses an INVERTED INDEX join (explode shingles →
  self-join on shingle → count per pair), not an O(n²) cross join.
  Cost is Σ freq(shingle)² — at 100 TB you'd additionally drop
  ultra-frequent shingles (stop-shingles) to kill skew; here the
  vocabulary is tiny so we keep all and rely on AQE skew splitting.
- MinHash+LSH replaces the pairwise stage with banding: signature →
  b band keys → shuffle on band key → pairs only within buckets.
  This is THE linear-ish-scale near-dup path; the Jaccard verify on
  candidates keeps precision exact.
- SimHash buckets by signature prefix, so candidate generation is
  again a shuffle on a short key rather than a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..queries.base import load, load_spread
from .hashing import (
    CONTROL_PAIR_JOIN,
    h32,
    h32_sql,
    md5_control_pairs_ctes,
    word_shingles,
    word_shingles_sql,
)
from .sampling import _SPLIT_BUCKET_SQL

# MinHash parameters: 16 hash functions in 4 bands of 4 rows.
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
JACCARD_THRESHOLD = 0.5
# Stop-shingle document-frequency cap for the exact-Jaccard inverted
# index (self-join cost is Σ df²; see dedup_ngram_jaccard docstring).
MAX_SHINGLE_DF = 100

# Affine hash family over ONE base md5 hash per shingle:
#   h_i(s) = (a_i * h32(s) + b_i) mod P
# 16× cheaper than hashing each shingle 16 times, and the constants
# are md5-derived (not RNG) so the DuckDB oracle reproduces them.
# a_i < 2^30 keeps a_i * h32 < 2^62 — no BIGINT overflow in either
# engine.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _const(tag: str, i: int, mod: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:15], 16) % mod


MINHASH_A = [(_const("a", i, 2**30 - 1) | 1) for i in range(MINHASH_K)]
MINHASH_B = [_const("b", i, 2**32) for i in range(MINHASH_K)]


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5-groupBy keeping the lowest doc_id.
    One shuffle on the text hash; at 100 TB hash first, group on the
    hash (never on the raw text — shuffle payload stays 16 bytes)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keeper_doc_id")
    )


_EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keeper_doc_id
"""


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc → distinct 32-bit shingle-hash array. Strings die inside
    this projection: everything downstream (signatures, joins,
    verification) runs on bigint arrays, which cuts shuffle payload
    ~3× and the object churn that made large runs GC-spiky. Hash-set
    Jaccard ≡ string-set Jaccard modulo ~1e-10 collision probability,
    and the oracle hashes identically so both engines agree exactly.

    Single-row-group parquet → one input split; load_spread fans the
    CPU-bound shingling across all cores. Materialized once per
    (session, corpus): the md5-heavy shingling feeds the capped
    pair index, MinHash, and the prefix-filter join."""
    return memo.shared(
        spark,
        sf_dir,
        "shingled",
        lambda: shingle_hashes(
            load_spread(spark, sf_dir, "documents", "doc_id")
        ).localCheckpoint(eager=True),
    )


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, hashes) over an ARBITRARY ``(doc_id, text, …)``
    relation — the stateless core of ``_shingled`` (which adds the
    per-corpus memo and the load_spread input on top). Exposed so the
    streaming ingest face (``streaming/minhash_ingest.py``) can shingle
    a micro-batch with EXPRESSIONS IDENTICAL to the batch pipeline —
    per-doc only (no corpus-level df cap), so a batch-local computation
    equals the global one and the stream/batch equality test is exact.
    Docs with no shingles (< 3 words) are excluded, mirroring the
    ``len >= 3`` filter in ``_SHINGLED_SQL``."""
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.array_distinct(F.transform(word_shingles(words), h32)).alias("hashes"),
    ).filter(F.size("hashes") > 0)


def minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, sig) MinHash-16 signatures from (doc_id, hashes).
    Explode + 16 groupBy-min aggregates, not array_min(transform(…)):
    projection collapsing inlines the md5-heavy hashes expression into
    every usage and the mega-expression took ~10 s of Janino compile
    per session; the aggregate form is 16 trivial mins with map-side
    combine — compiles instantly, same values (see
    ``_minhash_candidate_stats``, which shares this helper)."""
    ex = sh.select("doc_id", F.explode("hashes").alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"s{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return (
        ex.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[F.col(f"s{i}") for i in range(MINHASH_K)]).alias("sig"))
    )


def minhash_band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from (doc_id, sig): each
    band's MINHASH_ROWS signature slice md5-hashed into a bucket key —
    the 16-byte-per-(doc, band) index a production dedup service
    maintains incrementally. Shared by the batch candidate pipeline
    and the streaming ingest face."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("sig"), b * MINHASH_ROWS + 1, MINHASH_ROWS),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bucket"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


_SHINGLED_SQL = f"""
SELECT doc_id,
       list_distinct(list_transform(
           {word_shingles_sql("string_split(text, ' ')")},
           s -> {h32_sql('s')})) AS hashes
FROM documents
WHERE len(string_split(text, ' ')) >= 3
"""


def _capped_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped inverted-index pair pipeline SHARED by
    ``dedup_ngram_jaccard`` (symmetric metric) and
    ``dedup_containment`` (asymmetric) — one definition so the cap
    semantics, the hapax drop, and the join strategy can never drift
    apart; materialized once per (session, corpus), so the second
    metric reads the ~10⁵-row candidate relation instead of re-running
    the posting-list self-join. Returns (doc_a, doc_b, n_common,
    n_a, n_b).

    - hashes are array_distinct per doc, so count(*) = document freq.
      The cap rides a window count over the SAME shingle partitioning
      the self-join needs anyway — one shuffle, no df-lookup join
      (measured steadier and ~5% faster than the agg+join form).
    - Set sizes are defined over the CAPPED sets (df ≤ cap) — but the
      JOIN input additionally drops df = 1 tokens: a posting list of
      length one can never match another doc, so excluding it changes
      no pair count while shrinking the self-join input.
    - Forced sort-merge: the posting lists are ~1M rows per side; a
      broadcast build of that is a serial driver-side hash-relation
      construction, while SMJ shuffles both sides across all cores
      and keeps the join output co-partitioned for the pair groupBy."""
    from pyspark.sql import Window

    def build():
        sh = _shingled(spark, sf_dir)
        ex_all = sh.select("doc_id", F.explode("hashes").alias("shingle"))
        ex = ex_all.withColumn(
            "_df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("_df") <= MAX_SHINGLE_DF)
        sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
        exj = ex.filter(F.col("_df") >= 2).select("doc_id", "shingle")
        a, b = exj.alias("a"), exj.hint("shuffle_merge").alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
        return common.join(sa, "doc_a").join(sb, "doc_b").localCheckpoint(eager=True)

    return memo.shared(spark, sf_dir, "capped_pair_counts", build)


# The matching oracle CTE chain (ends with common/sizes exposed);
# spliced into _JACCARD_SQL and _CONTAINMENT_SQL.
_CAPPED_PAIRS_CTES = f"""sh AS ({_SHINGLED_SQL}),
ex_all AS (SELECT doc_id, unnest(hashes) AS shingle FROM sh),
rare AS (
  SELECT shingle FROM ex_all GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
),
ex AS (SELECT ex_all.doc_id, ex_all.shingle FROM ex_all JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word-shingle Jaccard ≥ 0.5 pairs via inverted-index join,
    computed over each document's RARE shingles only: shingles whose
    document frequency exceeds ``MAX_SHINGLE_DF`` are dropped from
    both the pair counting and the set sizes (the oracle applies the
    identical cap, so Jaccard stays int/int bit-identical).

    The cap is the 100 TB guard: self-join cost is Σ df(shingle)², so
    one ubiquitous stop-shingle ("of the and") creates a quadratic
    pair explosion; capping df bounds every posting list, exactly as
    ``fingerprint.MAX_DF`` does for winnowing. Semantics: a pair's
    score changes only if its overlap leaned on corpus-ubiquitous
    shingles — which is noise, not duplication signal, at scale.
    Pipeline shared with dedup_containment (_capped_pair_counts).

    The pair list is materialized once per (session, corpus) — it
    feeds both connected-components variants and the cross-modal
    audit, which would otherwise each re-run the inverted-index join
    (the "near-dup pairs are a cached table" layout at scale)."""
    return memo.shared(
        spark,
        sf_dir,
        "ngram_jaccard",
        lambda: _capped_pair_counts(spark, sf_dir)
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
        .localCheckpoint(eager=True),
    )


_JACCARD_SQL = f"""
WITH {_CAPPED_PAIRS_CTES}
SELECT doc_a, doc_b,
       n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


COS2_THRESHOLD_PM = 500  # cos² ≥ 0.5  ⇔  cos ≥ ~0.707


def _capped_tf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, tf, _df) over NON-distinct 3-word shingle hashes,
    df-capped — the weighted twin of ``_shingled`` (which is a
    distinct SET). Materialized once per (session, corpus): the
    md5-heavy shingling is the dominant cost of the weighted-cosine
    metric."""
    from pyspark.sql import Window

    def build():
        docs = load_spread(spark, sf_dir, "documents", "doc_id")
        words = F.split(F.col("text"), " ")
        tf = (
            docs.select(
                "doc_id",
                F.explode(
                    F.transform(word_shingles(words, distinct=False), h32)
                ).alias("sh"),
            )
            .groupBy("doc_id", "sh")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        return (
            tf.withColumn("_df", F.count("*").over(Window.partitionBy("sh")))
            .filter(F.col("_df") <= MAX_SHINGLE_DF)
            .localCheckpoint(eager=True)
        )

    return memo.shared(spark, sf_dir, "capped_tf_shingles", build)


def dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted shingle-cosine near-dup pairs — the
    CCNet/C4-style weighted metric, complementing the SET-based
    Jaccard (which ignores how often a shingle repeats: a doc that
    quotes a passage ONCE and a doc that loops it fifty times have
    the same shingle set but very different tf vectors). Terms are
    3-word shingle HASHES with their repeat counts (word-level tf is
    degenerate here — the corpus vocabulary is ~31 words, every word
    in most docs; shingle space is combinatorial, exactly why the
    whole dedup family shingles); document frequency > MAX_SHINGLE_DF
    drops a shingle from both the dot product and the norms (the
    stop-shingle cut doubles as the Σdf² scale guard; the oracle
    applies the identical cap).

    cos² is carried exactly: per pair ⌊1000·(Σtf_a·tf_b)² /
    (Σtf_a²·Σtf_b²)⌋ — all integer products, no sqrt — reported with
    the integer dot product. Pairs at cos² ≥ COS2_THRESHOLD_PM/1000.

    Scale: one (doc_id, shingle-hash) tf aggregate; the df cap rides
    a window over the SAME key the inverted-index self-join shuffles
    on (no extra df join); df=1 hapax shingles are dropped from the
    join input (length-1 posting lists can't pair). The decimal
    casts keep the squared dot exact at any tf magnitude."""
    capped = _capped_tf_shingles(spark, sf_dir)
    norms = capped.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("norm2")
    )
    joinable = capped.filter(F.col("_df") >= 2).select("doc_id", "sh", "tf")
    a, b = joinable.alias("a"), joinable.hint("shuffle_merge").alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("norm2_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("norm2_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "cos2_permille",
            F.expr(
                "(1000 * CAST(dot AS DECIMAL(38,0)) * dot)"
                " div (CAST(norm2_a AS DECIMAL(38,0)) * norm2_b)"
            ).cast("bigint"),
        )
        .filter(F.col("cos2_permille") >= COS2_THRESHOLD_PM)
        .select("doc_a", "doc_b", "dot", "cos2_permille")
        .orderBy("doc_a", "doc_b")
    )


_TF_COSINE_SQL = f"""
WITH tf AS (
  SELECT doc_id, t.sh, count(*)::BIGINT AS tf
  FROM (
    SELECT doc_id,
           list_transform(
             {word_shingles_sql("string_split(text, ' ')", distinct=False)},
             s -> {h32_sql('s')}) AS shs
    FROM documents
  ), UNNEST(shs) AS t(sh)
  GROUP BY 1, 2
),
capped AS (
  SELECT doc_id, sh, tf,
         count(*) OVER (PARTITION BY sh) AS _df
  FROM tf QUALIFY _df <= {MAX_SHINGLE_DF}
),
norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS norm2 FROM capped GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(a.tf * b.tf)::BIGINT AS dot
  FROM (SELECT * FROM capped WHERE _df >= 2) a
  JOIN (SELECT * FROM capped WHERE _df >= 2) b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, dot,
       ((1000 * dot::HUGEINT * dot) // (na.norm2::HUGEINT * nb.norm2))::BIGINT
         AS cos2_permille
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE (1000 * dot::HUGEINT * dot) // (na.norm2::HUGEINT * nb.norm2)
      >= {COS2_THRESHOLD_PM}
ORDER BY doc_a, doc_b
"""


def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the shingle-based near-dup
    pairs: exact Levenshtein distance and its length-normalized
    similarity (per-mille) for every [[dedup_ngram_jaccard]] pair.
    Set-based Jaccard is blind to ORDER (a shuffled paragraph scores
    1.0); edit distance is the orthogonal check a curation team runs
    before trusting "near-identical" verdicts enough to delete data.

    Scale: Levenshtein is O(len²) per pair, so it is only ever run on
    the candidate pair list (never all-pairs) — here the memoized
    Jaccard pair table, joined back to the two texts. Both engines
    run an exact integer DP, so the per-mille similarity
    ⌊1000·(maxlen − dist)/maxlen⌋ is cross-engine exact on ASCII
    text. CAVEAT: DuckDB's levenshtein is BYTE-based while Spark's is
    codepoint-based ('café' vs 'cafe' = 2 vs 1), so a non-ASCII
    corpus needs a byte-level normalization before this oracle
    pairing holds; the corpora here are pure ASCII."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").cast("bigint").alias("edit_distance"),
            F.greatest(F.length("text_a"), F.length("text_b"))
            .cast("bigint")
            .alias("max_len"),
        )
        .withColumn(
            "sim_permille",
            F.expr("1000 * (max_len - edit_distance) div nullif(max_len, 0)"),
        )
        .orderBy("doc_a", "doc_b")
    )


_EDIT_VERIFY_SQL = f"""
WITH pairs AS ({_JACCARD_SQL.replace("ORDER BY doc_a, doc_b", "")}),
stats AS (
  SELECT doc_a, doc_b,
         levenshtein(da.text, db.text)::BIGINT AS edit_distance,
         greatest(length(da.text), length(db.text))::BIGINT AS max_len
  FROM pairs
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b
)
SELECT doc_a, doc_b, edit_distance, max_len,
       1000 * (max_len - edit_distance) // nullif(max_len, 0) AS sim_permille
FROM stats
ORDER BY doc_a, doc_b
"""


def dedup_negative_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-control audit for the near-dup pipeline: pair every
    doc with a DETERMINISTIC pseudo-random partner (md5-rank
    shuffle → adjacent ids — no doc picks itself, every doc appears
    in ≤2 pairs) and summarize the exact Jaccard of those background
    pairs. A dedup threshold is only meaningful if the background
    similarity sits far below it — this one row (pair count, mean /
    max Jaccard per-mille, count over JACCARD_THRESHOLD) is the
    false-positive floor a curator checks before believing the near-
    dup counts. Complements [[dedup_sketch_recall_report]] (which
    audits what the sketch MISSED, not what the metric would
    over-claim).

    Scale: the control pairing is one md5-salt-BUCKETED rank window
    (partitioned by ``pmod(h32(id), B)`` — no executor holds more
    than ~corpus/B rows) + a self-join on (bucket, adjacent rank) —
    O(corpus), never quadratic; the verify is one array intersect per
    control pair (~|docs|/2 pairs, ≤B odd-bucket tails dropped
    identically on both engines)."""
    from .hashing import md5_control_pairs

    sh = _shingled(spark, sf_dir)
    pairs = md5_control_pairs(sh, "doc_id").select(
        F.expr(
            "(1000 * CAST(size(array_intersect(a_hashes, b_hashes)) AS BIGINT))"
            " div (size(a_hashes) + size(b_hashes)"
            "      - size(array_intersect(a_hashes, b_hashes)))"
        ).alias("jp")
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_control_pairs"),
        F.expr("sum(jp) div count(*)").alias("mean_jaccard_permille"),
        F.max("jp").alias("max_jaccard_permille"),
        F.sum(
            (F.col("jp") >= int(JACCARD_THRESHOLD * 1000)).cast("bigint")
        ).alias("n_over_threshold"),
    )


_NEGATIVE_CONTROL_SQL = f"""
WITH {md5_control_pairs_ctes(_SHINGLED_SQL, "doc_id")},
pairs AS (
  SELECT (1000 * len(list_intersect(a.hashes, b.hashes)))
           // (len(a.hashes) + len(b.hashes)
               - len(list_intersect(a.hashes, b.hashes))) AS jp
  FROM {CONTROL_PAIR_JOIN}
)
SELECT count(*)::BIGINT AS n_control_pairs,
       (sum(jp) // count(*))::BIGINT AS mean_jaccard_permille,
       max(jp)::BIGINT AS max_jaccard_permille,
       sum(CASE WHEN jp >= {int(JACCARD_THRESHOLD * 1000)} THEN 1 ELSE 0 END)::BIGINT
         AS n_over_threshold
FROM pairs
"""


def _minhash_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with BOTH the sketch-side and truth-side
    per-pair stats: ``doc_a, doc_b, n_sig_match`` (matching signature
    components, 0..MINHASH_K) and ``n_common, n_a, n_b`` (exact
    uncapped shingle-set overlap/sizes). Candidate generation shuffles
    on the band key only — the linear-scale near-dup path. Hash
    family i is the AFFINE ``(a_i·h32(shingle) + b_i) mod
    MINHASH_PRIME`` (one md5 per shingle, not one per (i, shingle) —
    see the constants block above), reproducible in SQL.

    Materialized once per (session, corpus): the verified pair
    list (dedup_minhash_lsh) and the estimator-calibration report
    both derive from this table with nothing heavier than a filter —
    the "candidate stats are a cached table" layout a production
    dedup service would keep anyway for QA dashboards."""
    return memo.shared(
        spark, sf_dir, "minhash_candidate_stats", lambda: _candidate_stats(spark, sf_dir)
    )


def _candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sig = minhash_sigs(sh)
    bands = minhash_band_keys(sig)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hashes").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hashes").alias("sh_b"))
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    # 16 plain positional comparisons (not a zip_with HOF — Catalyst
    # lambdas run interpreted; these codegen).
    n_sig_match = sum(
        F.when(F.col("sig_a")[i] == F.col("sig_b")[i], 1).otherwise(0)
        for i in range(MINHASH_K)
    ).cast("bigint")
    return (
        candidates.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
        .select(
            "doc_a",
            "doc_b",
            n_sig_match.alias("n_sig_match"),
            "n_common",
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
        .localCheckpoint(eager=True)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH banding (4×4) candidate pairs, verified with
    exact Jaccard ≥ 0.5 (candidate generation and per-pair stats:
    ``_minhash_candidate_stats``).

    Output = verified pairs, so precision is exact; recall is the
    standard LSH s-curve (J=0.5 → P(candidate) ≈ 1-(1-0.5⁴)⁴ ≈ 23%
    per band family — parameters chosen for the near-identical
    planted dups at J≈0.99 where recall ≈ 1).

    Materialized once per (session, corpus): the recall-QA report
    and the cross-source matrix both start from this pair list."""
    return memo.shared(
        spark,
        sf_dir,
        "minhash_lsh",
        lambda: _minhash_candidate_stats(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
        .localCheckpoint(eager=True),
    )


def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-calibration table for the MinHash sketch: for each
    signature-agreement level k (matching components out of
    MINHASH_K=16, the sketch's Jaccard estimate k/16), the count of
    LSH candidate pairs at that level and the exact-Jaccard summary
    (mean/min/max, integer per-mille) of those pairs.

    This is the other half of the QA story next to
    [[dedup_sketch_recall_report]]: recall tells you what the banding
    MISSED; calibration tells you how far the unbiased k/16 estimator
    wanders from truth at K=16 (stderr ≈ √(J(1-J)/16) ≈ 0.12 — a
    production run alarms when the observed spread leaves that band).
    Runs entirely on the memoized candidate-stats table — zero extra
    scans, one tiny aggregation. All-integer output (floor-divided
    per-milles), so both engines agree bit-for-bit."""
    stats = _minhash_candidate_stats(spark, sf_dir)
    jp = F.expr("(1000 * n_common) div (n_a + n_b - n_common)")
    return (
        stats.select(F.col("n_sig_match").alias("sig_matches"), jp.alias("jp"))
        .groupBy("sig_matches")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(jp) div count(*)").alias("mean_jaccard_permille"),
            F.min("jp").alias("min_jaccard_permille"),
            F.max("jp").alias("max_jaccard_permille"),
        )
        .orderBy("sig_matches")
    )


_MINHASH_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(hashes, h -> (h * {a} + {b}) % {MINHASH_PRIME}))"
    for a, b in zip(MINHASH_A, MINHASH_B)
) + "]"

_MINHASH_CAND_CTES = f"""sh AS ({_SHINGLED_SQL}),
sig AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, b AS band,
         md5(array_to_string(sig[b * {MINHASH_ROWS} + 1 : b * {MINHASH_ROWS} + {MINHASH_ROWS}], ',')) AS bucket
  FROM sig, UNNEST(range(0, {MINHASH_BANDS})) AS t(b)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

_MINHASH_SQL = f"""
WITH {_MINHASH_CAND_CTES},
verified AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.hashes, sb.hashes)) * 1.0
           / (len(sa.hashes) + len(sb.hashes)
              - len(list_intersect(sa.hashes, sb.hashes))) AS jaccard
  FROM candidates
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""

_MINHASH_CALIB_SQL = f"""
WITH {_MINHASH_CAND_CTES},
pair_stats AS (
  SELECT ({" + ".join(f"(CASE WHEN ga.sig[{i + 1}] = gb.sig[{i + 1}] THEN 1 ELSE 0 END)" for i in range(MINHASH_K))})::BIGINT AS sig_matches,
         (1000 * len(list_intersect(ha.hashes, hb.hashes)))
           // (len(ha.hashes) + len(hb.hashes)
               - len(list_intersect(ha.hashes, hb.hashes))) AS jp
  FROM candidates
  JOIN sig ga ON ga.doc_id = doc_a
  JOIN sig gb ON gb.doc_id = doc_b
  JOIN sh ha ON ha.doc_id = doc_a
  JOIN sh hb ON hb.doc_id = doc_b
)
SELECT sig_matches,
       count(*)::BIGINT AS n_pairs,
       (sum(jp) // count(*))::BIGINT AS mean_jaccard_permille,
       min(jp)::BIGINT AS min_jaccard_permille,
       max(jp)::BIGINT AS max_jaccard_permille
FROM pair_stats
GROUP BY sig_matches
ORDER BY sig_matches
"""


# 60-bit simhash (15 md5 hex chars → fits BIGINT with headroom): the
# 32-bit variant produced thousands of collision pairs on this small
# vocabulary; 60 bits + hamming ≤ 3 keeps precision meaningful.
SIMHASH_BITS = 60
SIMHASH_PREFIX_BITS = 12
SIMHASH_MAX_HAMMING = 3


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(SIMHASH_BITS=60) near-dup: per-word hashes vote per
    bit; candidates are generated within equal 12-bit-prefix buckets
    (shuffle on the prefix, no cross join), then filtered to hamming
    distance ≤ SIMHASH_MAX_HAMMING (3 — see the constants block above
    for why 32-bit/≤6 was abandoned). Prefix bucketing trades recall
    for scale — a pair differing inside the prefix is missed; the
    oracle replicates the same policy so the comparison is exact."""
    # NON-distinct words: every doc here shares the same small
    # vocabulary, so distinct-word simhash is degenerate (all docs
    # vote identically). Keeping duplicates makes each occurrence a
    # vote — the classic frequency-weighted simhash.
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    words = F.split(F.col("text"), " ")

    def h60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")

    hashed = docs.select("doc_id", F.transform(words, h60).alias("hashes"))
    # bit b of the simhash = majority vote of word-hash bits. Bit
    # masks are Python-int literals (2**b) — exact for b < 63. The
    # predicate factory avoids default-arg lambdas, whose extra
    # parameter confuses PySpark's higher-order-function arity check.
    def bit_set(mask: int):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    simhash = sum(
        (
            F.when(
                F.size(F.filter(F.col("hashes"), bit_set(2**b))) * 2 > F.size(F.col("hashes")),
                F.lit(2**b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for b in range(SIMHASH_BITS)
        ),
        F.lit(0).cast("bigint"),
    )
    sh = hashed.select("doc_id", simhash.alias("simhash")).withColumn(
        "prefix", F.shiftright(F.col("simhash"), SIMHASH_BITS - SIMHASH_PREFIX_BITS)
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.prefix") == F.col("b.prefix")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hashes
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, {SIMHASH_BITS}),
           b -> CASE WHEN len(list_filter(hashes, h -> (h & (1::BIGINT << b)) != 0)) * 2
                          > len(hashes)
                     THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
  FROM hashed
),
pre AS (
  SELECT doc_id, simhash, simhash >> {SIMHASH_BITS - SIMHASH_PREFIX_BITS} AS prefix FROM sh
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM pre a JOIN pre b ON a.prefix = b.prefix AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


PREFIX_TOKENS = 4  # opening-template fingerprint width


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot-over-snapshot) dedup: the hash-
    deterministic 80% split plays the already-ingested corpus, the
    other 20% the incoming batch. A batch doc is dropped when its
    opening-``PREFIX_TOKENS``-token template fingerprint is already
    in the corpus index (the boilerplate-opening key — full-text
    fingerprints find nothing on this synthetic corpus), or when an
    earlier batch doc (lowest doc_id) already claimed it.

    Scale: the corpus side is the 16-byte-per-doc fingerprint INDEX a
    real pipeline maintains incrementally — never a rescan of the
    100 TB corpus. The anti-join shuffles only (fingerprint) keys;
    when the batch is small relative to the index, AQE's broadcast
    threshold flips the batch side to a broadcast instead."""
    from pyspark.sql import Window

    from .sampling import _split_bucket

    docs = load(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, PREFIX_TOKENS), " "
    )
    keyed = docs.select(
        "doc_id",
        F.substring(F.md5(prefix), 1, 16).alias("prefix_fp"),
        _split_bucket(F.col("doc_id")).alias("bucket"),
    )
    corpus_index = keyed.filter(F.col("bucket") < 80).select("prefix_fp").distinct()
    batch = keyed.filter(F.col("bucket") >= 80).select("doc_id", "prefix_fp")
    w = Window.partitionBy("prefix_fp").orderBy("doc_id")
    batch_first = (
        batch.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1).drop("rk")
    )
    return (
        batch_first.join(corpus_index, "prefix_fp", "left_anti")
        .select("doc_id", "prefix_fp")
        .orderBy("doc_id")
    )


_INCREMENTAL_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         substr(md5(array_to_string(string_split(lower(trim(text)), ' ')[1:{PREFIX_TOKENS}], ' ')), 1, 16)
           AS prefix_fp,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM documents
),
corpus_index AS (SELECT DISTINCT prefix_fp FROM keyed WHERE bucket < 80),
batch AS (SELECT doc_id, prefix_fp FROM keyed WHERE bucket >= 80),
batch_first AS (
  SELECT doc_id, prefix_fp
  FROM (SELECT *, row_number() OVER (PARTITION BY prefix_fp ORDER BY doc_id) AS rk FROM batch)
  WHERE rk = 1
)
SELECT b.doc_id, b.prefix_fp
FROM batch_first b
WHERE NOT EXISTS (SELECT 1 FROM corpus_index c WHERE c.prefix_fp = b.prefix_fp)
ORDER BY b.doc_id
"""


def _prefix_postings(sh: DataFrame) -> DataFrame:
    """(doc_id, n, shingle) postings restricted to each doc's
    ⌊n/2⌋+1-token prefix under the global (df ASC, shingle ASC)
    order — the indexable part of the corpus for J ≥ 0.5. Exposed
    separately so the pruning property (hot shingles never indexed
    when every doc has enough rarer tokens) is directly testable."""
    from pyspark.sql import Window

    sized = sh.withColumn("n", F.size("hashes"))
    ex = sized.select("doc_id", "n", F.explode("hashes").alias("shingle"))
    ex = ex.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # df = 1 ⟹ a posting list of length one ⟹ the equi-join can
    # never match it against another doc. Such tokens still OCCUPY
    # prefix slots (that's the pruning working — rare tokens absorb
    # the indexable positions) but joining them is pure dead weight,
    # so they're dropped from the join input. Lossless by definition
    # of an equi-join on the token.
    return (
        ex.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= F.floor(F.col("n") / 2) + 1) & (F.col("df") >= 2))
        .select("doc_id", "n", "shingle")
    )


def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.5 pairs via PREFIX FILTERING (AllPairs /
    PPJoin family, Bayardo et al. WWW'07; Xiao et al. WWW'08) — the
    lossless answer to the inverted-index blowup that
    ``dedup_ngram_jaccard`` bounds with a df-cap.

    Order every doc's shingle set by a global (df ASC, shingle ASC)
    total order and index only its first ⌊n/2⌋+1 tokens (for J ≥ t
    the prefix is n - ⌈t·n⌉ + 1; t = 0.5). Prefix-filter lemma: if
    J(x,y) ≥ t, the two prefixes MUST share a token — suppose not,
    and wlog last(prefix_x) ≤ last(prefix_y) in the global order;
    any common token in prefix_x would also be ≤ last(prefix_y) and
    hence inside prefix_y, a contradiction — so all common tokens
    sit in x's suffix, giving overlap ≤ ⌈t·n_x⌉ - 1 < the t·n_x
    that J ≥ t forces. Candidate generation therefore joins ONLY
    prefix postings, plus the length filter 2·min(n_a,n_b) ≥
    max(n_a,n_b) (J ≥ ½ ⟹ sizes within 2×), then verifies exact
    Jaccard on the full sets. Output is IDENTICAL to the uncapped
    all-pairs join — the oracle is the plain inverted-index SQL with
    no prefix logic at all.

    100 TB story: df-ascending ordering puts each doc's RAREST
    shingles in its prefix, so posting lists of indexed tokens are
    short by construction — the ubiquitous stop-shingles that make
    Σ df² quadratic land in suffixes and are never joined. Unlike
    the df-cap variant this prunes without changing a single output
    row. Costs two windows — the df count rides the SAME
    shingle-keyed shuffle the capped variant pays (no df-table join;
    measured ~30% faster than the agg+join form at sf0.1), plus a
    per-doc rank sort; both partition cleanly (by shingle, by
    doc_id)."""
    sh = _shingled(spark, sf_dir)
    prefix = _prefix_postings(sh)
    a, b = prefix.alias("a"), prefix.hint("shuffle_merge").alias("b")
    # PPJoin-style count filter: COUNT shared prefix tokens c per
    # pair (a groupBy on the same shuffle a distinct would pay) and
    # bound the achievable overlap.  A common token outside both
    # prefixes is > the last prefix element of whichever doc's prefix
    # ends EARLIER in the global (df, shingle) order — prefix
    # membership is downward-closed, so every such token falls in
    # that one doc's suffix.  Hence overlap ≤ c + max(suffix sizes)
    # (NOT min — min wrongly prunes true pairs when the contained
    # doc's prefix is hapax-heavy; see test_count_filter_soundness)
    # with suffix = ⌈n/2⌉ - 1; J ≥ ½ needs overlap ≥ ⌈(n_a+n_b)/3⌉.
    # Pairs below the bound die BEFORE touching the full arrays —
    # measured 310k prefix-sharing pairs → ~300 survivors at sf0.1,
    # which turns the verify step from the dominant cost into noise.
    pair_counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("a.n") >= F.col("b.n"))
            & (2 * F.col("b.n") >= F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    suffix_a = F.expr("(n_a + 1) div 2 - 1")
    suffix_b = F.expr("(n_b + 1) div 2 - 1")
    required = F.expr("(n_a + n_b + 2) div 3")
    candidates = pair_counts.filter(
        F.col("c") + F.greatest(suffix_a, suffix_b) >= required
    ).select("doc_a", "doc_b")
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hashes").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hashes").alias("sh_b"))
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# The oracle is the UNCAPPED exact all-pairs Jaccard — no prefix
# logic — because prefix filtering is lossless: equality of the two
# result sets IS the test of the pruning lemma.
_PREFIX_FILTER_SQL = f"""
WITH sh AS ({_SHINGLED_SQL}),
ex AS (SELECT doc_id, unnest(hashes) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup: pairs where ≥ 80% of the
    smaller document's shingles appear in the other doc —
    |x∩y| / min(|x|,|y|) ≥ 0.8. Catches subset/quote duplication
    (a doc embedded inside a longer one) that symmetric Jaccard
    misses: J can be arbitrarily small while containment is 1.0.

    Candidate generation reuses the rare-shingle inverted index
    (same ``MAX_SHINGLE_DF`` cap and cost bound as
    ``dedup_ngram_jaccard``); containment is then computed on the
    CAPPED sets in both engines, so int/int arithmetic matches
    bit-for-bit. At 100 TB this is the standard quote/boilerplate
    detector: the cap bounds every posting list and the group-by
    pair output is (pairs sharing ≥1 rare shingle) — linear-ish in
    corpus size for natural text. Pipeline shared with
    dedup_ngram_jaccard (_capped_pair_counts)."""
    return (
        _capped_pair_counts(spark, sf_dir)
        .withColumn("containment", F.col("n_common") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "containment")
        .orderBy("doc_a", "doc_b")
    )


_CONTAINMENT_SQL = f"""
WITH {_CAPPED_PAIRS_CTES}
SELECT doc_a, doc_b, n_common,
       n_common * 1.0 / LEAST(sa.n_shingles, sb.n_shingles) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * 1.0 / LEAST(sa.n_shingles, sb.n_shingles) >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def dedup_sketch_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality QA: how well does the MinHash+LSH pipeline
    track the exact (df-capped) Jaccard truth set? A production dedup
    run needs this monitored — banding recall degrades silently when
    the shingle distribution drifts (the 10× scale experiment measured
    3/2560 borderline pairs lost; SCALE.md round-3 table).

    One summary row: pair counts for each set, their intersection,
    and integer per-mille recall/precision (no float division — the
    report must itself be engine-exact). The two legs reuse the
    registered pipelines verbatim, so this also pins that the
    composed operators agree with their composed oracles.
    Note the legs' Jaccard definitions differ by design: the truth
    leg caps shingle df at MAX_SHINGLE_DF (the scale guard), the
    sketch leg verifies on uncapped sets — per-mille precision < 1000
    therefore measures BOTH banding noise and cap drift."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", F.lit(1).alias("in_exact"))
    sketch = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", F.lit(1).alias("in_sketch"))
    j = exact.join(sketch, ["doc_a", "doc_b"], "full_outer")
    return (
        j.agg(
            F.sum(F.coalesce("in_exact", F.lit(0))).alias("n_exact"),
            F.sum(F.coalesce("in_sketch", F.lit(0))).alias("n_sketch"),
            F.sum(
                F.coalesce("in_exact", F.lit(0)) * F.coalesce("in_sketch", F.lit(0))
            ).alias("n_both"),
        )
        .select(
            "n_exact",
            "n_sketch",
            "n_both",
            F.expr("CASE WHEN n_exact = 0 THEN NULL ELSE n_both * 1000 div n_exact END").alias(
                "recall_pm"
            ),
            F.expr("CASE WHEN n_sketch = 0 THEN NULL ELSE n_both * 1000 div n_sketch END").alias(
                "precision_pm"
            ),
        )
    )


_SKETCH_RECALL_SQL = f"""
WITH exact_pairs AS (SELECT doc_a, doc_b FROM ({_JACCARD_SQL})),
sketch_pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_SQL})),
j AS (
  SELECT coalesce(e.doc_a, s.doc_a) AS doc_a,
         (e.doc_a IS NOT NULL)::INT AS in_exact,
         (s.doc_a IS NOT NULL)::INT AS in_sketch
  FROM exact_pairs e FULL OUTER JOIN sketch_pairs s
    ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b
)
SELECT sum(in_exact)::BIGINT AS n_exact,
       sum(in_sketch)::BIGINT AS n_sketch,
       sum(in_exact * in_sketch)::BIGINT AS n_both,
       CASE WHEN sum(in_exact) = 0 THEN NULL
            ELSE (sum(in_exact * in_sketch) * 1000 // sum(in_exact))::BIGINT END AS recall_pm,
       CASE WHEN sum(in_sketch) = 0 THEN NULL
            ELSE (sum(in_exact * in_sketch) * 1000 // sum(in_sketch))::BIGINT END AS precision_pm
FROM j
"""


STRONG_JACCARD = 0.8


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate which: the MinHash near-dup pairs
    aggregated into an unordered source×source matrix — the report a
    corpus curator reads to find mirror sites, scraped re-posts, and
    feeds that syndicate each other (within-source rows = internal
    duplication). Counts only (plus a strong-pair count at Jaccard ≥
    0.8): integer-exact, no float aggregation to drift between
    engines.

    Scale: rides the exact pair kernel (band-key shuffle only); the
    matrix agg groups a pair-count-sized input down to |sources|²
    rows, so the report is free relative to the dedup run it audits."""
    from ..queries.base import load

    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_if(F.col("jaccard") >= STRONG_JACCARD).alias("n_strong"),
        )
        .orderBy("source_a", "source_b")
    )


_CROSS_SOURCE_SQL = f"""
WITH pairs AS ({_MINHASH_SQL})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs,
       count(*) FILTER (jaccard >= {STRONG_JACCARD}) AS n_strong
FROM pairs
JOIN documents da ON da.doc_id = pairs.doc_a
JOIN documents db ON db.doc_id = pairs.doc_b
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-saturation curve: per ingest-order decile of the
    corpus, how many of its shingles were never seen in an earlier
    document. A falling novelty rate is the dedup-ROI signal a
    crawl/ingest pipeline watches — when late deciles contribute
    mostly repeats, the marginal crawl is buying storage, not
    information (the RefinedWeb/C4 "diminishing new data" readout).

    "First seen" = the shingle's minimum doc_id (ingest order); a
    shingle counts as novel only in that document. Rides the
    materialized shingle relation (``_shingled``), adds one shuffle
    on the shingle hash (groupBy-min + join share the partitioning)
    and a 10-group rollup — integer per-mille only. At 100 TB the
    first-seen relation IS the incremental dedup index
    (``dedup_incremental_batch``); this report is a free scan of it."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("hashes").alias("h"))
    first = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ex.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias("novel"),
        )
    )
    mx = sh.agg(F.max("doc_id").alias("mx"))
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .select(F.expr("doc_id * 10 div (mx + 1)").alias("ingest_decile"), "n", "novel")
        .groupBy("ingest_decile")
        .agg(
            F.sum("n").alias("n_shingles"),
            F.sum("novel").alias("n_novel"),
            F.expr("sum(novel) * 1000 div sum(n)").alias("novelty_pm"),
        )
        .orderBy("ingest_decile")
    )


_NOVELTY_SQL = f"""
WITH sh AS ({_SHINGLED_SQL}),
ex AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
first AS (SELECT h, min(doc_id) AS first_doc FROM ex GROUP BY h),
per_doc AS (
  SELECT e.doc_id, count(*) AS n,
         count(*) FILTER (WHERE f.first_doc = e.doc_id) AS novel
  FROM ex e JOIN first f USING (h)
  GROUP BY e.doc_id
),
m AS (SELECT max(doc_id) AS mx FROM sh)
SELECT (doc_id * 10 // (mx + 1))::BIGINT AS ingest_decile,
       sum(n)::BIGINT AS n_shingles,
       sum(novel)::BIGINT AS n_novel,
       (sum(novel) * 1000 // sum(n))::BIGINT AS novelty_pm
FROM per_doc, m
GROUP BY 1
ORDER BY ingest_decile
"""


SWEEP_THRESHOLDS = (50, 60, 70, 80, 90)  # Jaccard, in per-cent


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning report: how many near-dup pairs (and how many
    documents) a Jaccard cutoff of 0.5 … 0.9 would flag. This is the
    knob-setting curve a curator reads BEFORE committing a dedup run —
    too low deletes distinct documents, too high leaves templated spam;
    the elbow of this curve is where the threshold goes.

    Cost: a 5-way literal explode over the already-materialized capped
    pair relation (``_capped_pair_counts``) — the sweep is free
    relative to the inverted-index join it audits, which is the point:
    at 100 TB you sweep the cached candidate table, never re-run the
    join per threshold. The Jaccard test is kept in integers
    (``n_common·100 ≥ t·(n_a+n_b−n_common)``) so both engines compare
    exactly — no float thresholding at band edges."""
    pairs = _capped_pair_counts(spark, sf_dir)
    swept = pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        F.explode(F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])).alias("threshold_pct"),
    )
    hit = swept.filter(
        F.col("n_common") * 100
        >= F.col("threshold_pct") * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    )
    per_t = hit.groupBy("threshold_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs = (
        hit.select("threshold_pct", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("threshold_pct")
        .agg(F.count_distinct("d").alias("n_docs_affected"))
    )
    spine = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])).alias("threshold_pct")
    )
    return (
        spine.join(per_t, "threshold_pct", "left")
        .join(docs, "threshold_pct", "left")
        .select(
            "threshold_pct",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0).cast("long")).alias("n_docs_affected"),
        )
        .orderBy("threshold_pct")
    )


_SWEEP_SQL = f"""
WITH {_CAPPED_PAIRS_CTES},
pairs AS (
  SELECT doc_a, doc_b, n_common, sa.n_shingles AS n_a, sb.n_shingles AS n_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
),
th AS (SELECT unnest([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}]) AS threshold_pct),
hit AS (
  SELECT th.threshold_pct, doc_a, doc_b
  FROM pairs, th
  WHERE n_common * 100 >= th.threshold_pct * (n_a + n_b - n_common)
),
per_t AS (SELECT threshold_pct, count(*) AS n_pairs FROM hit GROUP BY 1),
docs AS (
  SELECT threshold_pct, count(DISTINCT d) AS n_docs_affected
  FROM (SELECT threshold_pct, doc_a AS d FROM hit
        UNION ALL SELECT threshold_pct, doc_b FROM hit)
  GROUP BY 1
)
SELECT th.threshold_pct,
       coalesce(n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(n_docs_affected, 0)::BIGINT AS n_docs_affected
FROM th
LEFT JOIN per_t USING (threshold_pct)
LEFT JOIN docs USING (threshold_pct)
ORDER BY threshold_pct
"""


# The S-curve planner's SQL is ENGINE-PORTABLE by construction: both
# engines execute this byte-identical text.  No libm pow anywhere —
# s^r and (1−s^r)^b are EXPLICIT repeated-squaring chains (r and b
# are powers of two), and the family threshold (1/b)^(1/r) is a
# sqrt chain; every step is an IEEE-exact op, so the doubles
# hash-match without any rounding contract.
_LSH_PLANNER_SQL = f"""
WITH grid AS (
  SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1)) AS g(r, b)
),
pts AS (
  SELECT * FROM (VALUES (100), (200), (300), (400), (500), (600),
                        (700), (800), (900)) AS p(s_pm)
),
base AS (
  SELECT r, b, s_pm, CAST(s_pm AS DOUBLE) / 1000.0 AS s FROM grid, pts
),
c1 AS (SELECT *, s * s AS t1 FROM base),
c2 AS (SELECT *, t1 * t1 AS t2 FROM c1),
c3 AS (SELECT *, t2 * t2 AS t3 FROM c2),
c4 AS (SELECT *, t3 * t3 AS t4 FROM c3),
sr AS (
  SELECT r, b, s_pm,
         CASE r WHEN 2 THEN t1 WHEN 4 THEN t2 WHEN 8 THEN t3 ELSE t4 END AS s_r
  FROM c4
),
y0 AS (SELECT *, 1.0 - s_r AS y FROM sr),
d1 AS (SELECT *, y * y AS u1 FROM y0),
d2 AS (SELECT *, u1 * u1 AS u2 FROM d1),
d3 AS (SELECT *, u2 * u2 AS u3 FROM d2),
pb AS (
  SELECT r, b, s_pm,
         CASE b WHEN 1 THEN y WHEN 2 THEN u1 WHEN 4 THEN u2 ELSE u3 END AS miss
  FROM d3
),
th0 AS (SELECT *, 1.0 / CAST(b AS DOUBLE) AS v0 FROM pb),
t1c AS (SELECT *, sqrt(v0) AS v1 FROM th0),
t2c AS (SELECT *, sqrt(v1) AS v2 FROM t1c),
t3c AS (SELECT *, sqrt(v2) AS v3 FROM t2c),
t4c AS (SELECT *, sqrt(v3) AS v4 FROM t3c)
SELECT r, b, s_pm,
       CAST(floor(1000.0 * (1.0 - miss)) AS BIGINT) AS p_catch_pm,
       CASE r WHEN 2 THEN v1 WHEN 4 THEN v2 WHEN 8 THEN v3 ELSE v4 END
         AS s_threshold,
       r = {MINHASH_ROWS} AND b = {MINHASH_BANDS} AS deployed
FROM t4c
ORDER BY r, s_pm
"""


def lsh_band_planner(spark, sf_dir):  # sf_dir unused: closed-form planner
    """MinHash-LSH (bands, rows) parameter planner — the S-curve
    table behind choosing [[dedup_minhash_lsh]]'s family: for every
    (r, b) split of the K=16 signature, the probability a pair with
    Jaccard s collides in ≥1 band, P = 1 − (1 − sʳ)ᵇ, evaluated at
    nine similarity points, plus the family threshold (1/b)^(1/r)
    where the curve inflects. The deployed cell (r={MINHASH_ROWS},
    b={MINHASH_BANDS}) is flagged. Determinism: NO libm pow — r and
    b are powers of two, so sʳ and (1−sʳ)ᵇ are explicit
    repeated-squaring chains and the root is a sqrt chain (both
    IEEE-exact); both engines run the byte-identical SQL text.

    Scale: a 36-row closed-form table — the planner costs nothing at
    any corpus size; it PARAMETERIZES the operator that does the
    work."""
    return spark.sql(_LSH_PLANNER_SQL)


QUERIES = (
    (lsh_band_planner, _LSH_PLANNER_SQL),
    (dedup_exact, _EXACT_SQL),
    (dedup_ngram_jaccard, _JACCARD_SQL),
    (dedup_minhash_lsh, _MINHASH_SQL),
    (dedup_simhash, _SIMHASH_SQL),
    (dedup_incremental_batch, _INCREMENTAL_SQL),
    (dedup_jaccard_prefix_filter, _PREFIX_FILTER_SQL),
    (dedup_containment, _CONTAINMENT_SQL),
    (dedup_sketch_recall_report, _SKETCH_RECALL_SQL),
    (minhash_estimate_calibration, _MINHASH_CALIB_SQL),
    (dedup_negative_control, _NEGATIVE_CONTROL_SQL),
    (dedup_edit_distance_verify, _EDIT_VERIFY_SQL),
    (dedup_tf_cosine, _TF_COSINE_SQL),
    (cross_source_dup_matrix, _CROSS_SOURCE_SQL),
    (dedup_threshold_sweep, _SWEEP_SQL),
    (ngram_novelty_curve, _NOVELTY_SQL),
)
