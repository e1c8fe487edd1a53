"""Corpus-level text ranking: TF-IDF top terms, and per-label
embedding centroids (the coarse quantizer an IVF index builds on).

TF-IDF uses a RATIONAL idf (N/df, no logarithm): logarithms are
libm-dependent across engines and a 1-ulp difference could flip a
rank at the top-k boundary; the rational form is bit-identical so
ranking (and therefore row membership) matches the oracle exactly.

Scale: tf/df are two aggregations over the exploded (doc, word)
stream — shuffles on (doc, word) and word respectively; N is a
1-row broadcast. No driver-side state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load_spread

TOP_TERMS = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Everything derives from ONE (doc_id, word) aggregate: doc
    length is a window-sum over it (same doc_id partitioning the
    rank window needs anyway) and document frequency is a count of
    its rows per word (tf is already distinct per doc — no second
    explode+distinct pass). The naive form scans and explodes the
    corpus three times; this shape scans once, and Catalyst's
    exchange reuse collapses the tf subplan shared by the df branch.
    At 100 TB that is the difference between one corpus-wide shuffle
    of (doc_id, word) pairs plus a small word-keyed rollup, and
    three full-corpus shuffles."""
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf_count"))
    df = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    w_doc = Window.partitionBy("doc_id")
    scored = (
        tf.withColumn("n_words", F.sum("tf_count").over(w_doc))
        .join(F.broadcast(df), "word")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf_count") * 1.0 / F.col("n_words"))
            * (F.col("n_docs") * 1.0 / F.col("doc_freq")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "rank", "word", "tfidf")
        .orderBy("doc_id", "rank")
    )


_TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf_count FROM words GROUP BY 1, 2),
doc_len AS (SELECT doc_id, count(*) AS n_words FROM words GROUP BY 1),
df AS (SELECT word, count(*) AS doc_freq FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         (tf.tf_count * 1.0 / doc_len.n_words) * (n.n_docs * 1.0 / df.doc_freq) AS tfidf
  FROM tf JOIN doc_len USING (doc_id) JOIN df USING (word) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, word, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
  FROM scored
)
SELECT doc_id, rank, word, tfidf FROM ranked
WHERE rank <= {TOP_TERMS}
ORDER BY doc_id, rank
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (IVF coarse quantizer): positional explode →
    per-dimension mean → norm. The norm is rounded (aggregation order
    differs between engines in the last bits)."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id")
    dims = e.select("label", "vec_id", F.posexplode("embedding").alias("pos", "v"))
    per_dim = dims.groupBy("label", "pos").agg(F.avg(F.col("v").cast("double")).alias("c"))
    return (
        per_dim.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
            F.count("*").alias("n_dims"),
        )
        .join(
            e.groupBy("label").agg(F.count("*").alias("n_vecs")),
            "label",
        )
        .select("label", "n_vecs", "n_dims", "centroid_norm")
        .orderBy("label")
    )


_CENTROIDS_SQL = """
WITH dims AS (
  SELECT label, vec_id, g.i AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, 65)) AS g(i)
),
per_dim AS (SELECT label, pos, avg(v) AS c FROM dims GROUP BY 1, 2),
norms AS (
  SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm, count(*) AS n_dims
  FROM per_dim GROUP BY label
),
counts AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
SELECT label, n_vecs, n_dims, centroid_norm
FROM norms JOIN counts USING (label)
ORDER BY label
"""


N_EVAL_QUERIES = 16
EVAL_K = 10


def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR-metrics evaluation of a retrieval system against labelled
    ground truth: for each query vector, exact-cosine top-K over the
    corpus, relevance = label equality, reporting hits@K,
    precision@K, recall@K, and MRR — the per-query scorecard every
    retrieval/RAG deployment tracks (the labelled-ground-truth
    complement of [[ann_recall_report]], which only measures an index
    against brute force). All metrics are integer per-mille (MRR =
    1000 div first-relevant-rank — a rational, no float accumulation),
    and the ranking cosine is the ordered fold shared with
    [[similarity_topk_bruteforce]] → bit-identical rank cuts.

    Plan: ONE broadcast of the query batch scores the corpus once
    (relevance is a projected predicate, not a join); a K-row window
    cut (WindowGroupLimit pushes the top-K into partials), one
    label-count broadcast for the recall denominator. Corpus side
    stays partition-parallel; only ranked candidates shuffle. At
    100 TB this is the standard sampled-eval job: |queries| bounded,
    corpus streamed."""
    from .similarity import _as_double, _cosine

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_EVAL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    corpus = emb.filter(F.col("vec_id") >= N_EVAL_QUERIES)
    label_totals = corpus.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    scored = corpus.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (F.col("label") == F.col("qlabel")).cast("long").alias("relevant"),
        _cosine(F.col("v"), F.col("qv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    per_q = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= EVAL_K)
        .groupBy("query_id")
        .agg(
            F.sum("relevant").alias("hits"),
            F.min(F.when(F.col("relevant") == 1, F.col("rk"))).alias("first_rank"),
        )
    )
    return (
        q.select("query_id", "qlabel")
        .join(F.broadcast(label_totals), q["qlabel"] == label_totals["label"], "left")
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_relevant"), F.lit(0)).cast("long").alias("n_relevant"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(f"CAST(coalesce(hits, 0) * 1000 DIV {EVAL_K} AS BIGINT)").alias(
                "precision_permille"
            ),
            F.expr(
                "CASE WHEN coalesce(n_relevant, 0) = 0 THEN 0 "
                "ELSE coalesce(hits, 0) * 1000 DIV n_relevant END"
            ).cast("long").alias("recall_permille"),
            F.coalesce(F.expr("1000 DIV first_rank"), F.lit(0))
            .cast("long")
            .alias("mrr_permille"),
        )
        .orderBy("query_id")
    )


def _retrieval_eval_oracle() -> str:
    from .similarity import _cosine_sql

    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
      WHERE vec_id < {N_EVAL_QUERIES}),
corpus AS (SELECT * FROM e WHERE vec_id >= {N_EVAL_QUERIES}),
label_totals AS (SELECT label, count(*) AS n_relevant FROM corpus GROUP BY label),
scored AS (
  SELECT query_id, c.vec_id,
         CASE WHEN c.label = qlabel THEN 1 ELSE 0 END AS relevant,
         {_cosine_sql("c.v", "qv")} AS cosine
  FROM corpus c, q
),
ranked AS (
  SELECT query_id, relevant,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored QUALIFY rk <= {EVAL_K}
),
per_q AS (
  SELECT query_id, sum(relevant) AS hits,
         min(CASE WHEN relevant = 1 THEN rk END) AS first_rank
  FROM ranked GROUP BY query_id
)
SELECT query_id,
       CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       CAST(coalesce(hits, 0) * 1000 // {EVAL_K} AS BIGINT) AS precision_permille,
       CAST(CASE WHEN coalesce(n_relevant, 0) = 0 THEN 0
                 ELSE coalesce(hits, 0) * 1000 // n_relevant END AS BIGINT)
         AS recall_permille,
       CAST(coalesce(1000 // first_rank, 0) AS BIGINT) AS mrr_permille
FROM q LEFT JOIN label_totals ON qlabel = label
       LEFT JOIN per_q USING (query_id)
ORDER BY query_id
"""


# nDCG discounts 1/log2(i+1) for ranks 1..EVAL_K, generated ONCE in
# Python and embedded as the same literals in both engines' query
# text (the BH-threshold lever: engine-side log/ln is libm-dependent;
# a shared literal cannot drift). IDCG prefix sums likewise.
_NDCG_DISCOUNTS = [1.0 / math.log2(i + 1) for i in range(1, EVAL_K + 1)]
_IDCG_PREFIX = [0.0]
for _d in _NDCG_DISCOUNTS:
    _IDCG_PREFIX.append(_IDCG_PREFIX[-1] + _d)


def ndcg_at_10_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 for the same labelled retrieval setup as
    [[retrieval_eval_metrics]] — the rank-POSITION-weighted metric
    that precision@K cannot see: a relevant hit at rank 1 is worth
    ~3.3× one at rank 10 (1/log2(r+1) gain discounting, Järvelin &
    Kekäläinen 2002). The scorecard column every RAG/retrieval
    dashboard adds next to recall.

    Exactness: the ten discount constants and the eleven ideal-DCG
    prefix sums are Python-generated literals CAST AS DOUBLE in both
    engines (never an engine-side log — the libm ban); DCG is a
    FIXED-ORDER ten-term dot product over per-rank indicator
    aggregates (max(CASE WHEN rk = i ...)), so no aggregation-order
    float sum exists; the rank cut reuses the deterministic cosine
    fold and (cosine DESC, vec_id) total order.

    Scale: identical plan class to the metrics face — one broadcast
    query batch over a streamed corpus, a K-row window cut
    (WindowGroupLimit), per-query constant-width aggregates."""
    from .similarity import _as_double, _cosine

    emb = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_EVAL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    corpus = emb.filter(F.col("vec_id") >= N_EVAL_QUERIES)
    label_totals = corpus.groupBy("label").agg(F.count(F.lit(1)).alias("n_relevant"))
    scored = corpus.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (F.col("label") == F.col("qlabel")).cast("long").alias("relevant"),
        _cosine(F.col("v"), F.col("qv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    rank_aggs = [
        F.max(F.expr(f"CASE WHEN rk = {i} THEN relevant ELSE 0 END")).alias(f"r{i}")
        for i in range(1, EVAL_K + 1)
    ]
    per_q = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= EVAL_K)
        .groupBy("query_id")
        .agg(*rank_aggs)
    )
    dcg_safe = " + ".join(
        f"coalesce(r{i}, 0) * CAST({_NDCG_DISCOUNTS[i - 1]!r} AS DOUBLE)"
        for i in range(1, EVAL_K + 1)
    )
    idcg_cases = " ".join(
        f"WHEN {j} THEN CAST({_IDCG_PREFIX[j]!r} AS DOUBLE)"
        for j in range(1, EVAL_K + 1)
    )
    idcg = f"(CASE least(coalesce(n_relevant, 0), {EVAL_K}) {idcg_cases} ELSE NULL END)"
    return (
        q.select("query_id", "qlabel")
        .join(F.broadcast(label_totals), q["qlabel"] == label_totals["label"], "left")
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_relevant"), F.lit(0)).cast("long").alias("n_relevant"),
            F.expr(
                "CAST("
                + " + ".join(f"coalesce(r{i}, 0)" for i in range(1, EVAL_K + 1))
                + " AS BIGINT)"
            ).alias("hits"),
            F.expr(
                f"CASE WHEN {idcg} IS NULL THEN NULL ELSE"
                f" ({dcg_safe}) / {idcg} END"
            ).alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


def _ndcg_oracle() -> str:
    from .similarity import _cosine_sql

    rank_aggs = ", ".join(
        f"max(CASE WHEN rk = {i} THEN relevant ELSE 0 END) AS r{i}"
        for i in range(1, EVAL_K + 1)
    )
    dcg = " + ".join(
        f"coalesce(r{i}, 0) * CAST({_NDCG_DISCOUNTS[i - 1]!r} AS DOUBLE)"
        for i in range(1, EVAL_K + 1)
    )
    hits = " + ".join(f"coalesce(r{i}, 0)" for i in range(1, EVAL_K + 1))
    idcg_cases = " ".join(
        f"WHEN {j} THEN CAST({_IDCG_PREFIX[j]!r} AS DOUBLE)"
        for j in range(1, EVAL_K + 1)
    )
    idcg = f"(CASE least(coalesce(n_relevant, 0), {EVAL_K}) {idcg_cases} ELSE NULL END)"
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e
      WHERE vec_id < {N_EVAL_QUERIES}),
corpus AS (SELECT * FROM e WHERE vec_id >= {N_EVAL_QUERIES}),
label_totals AS (SELECT label, count(*) AS n_relevant FROM corpus GROUP BY label),
scored AS (
  SELECT query_id, c.vec_id,
         CASE WHEN c.label = qlabel THEN 1 ELSE 0 END AS relevant,
         {_cosine_sql("c.v", "qv")} AS cosine
  FROM corpus c, q
),
ranked AS (
  SELECT query_id, relevant,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored QUALIFY rk <= {EVAL_K}
),
per_q AS (
  SELECT query_id, {rank_aggs}
  FROM ranked GROUP BY query_id
)
SELECT query_id,
       CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
       CAST({hits} AS BIGINT) AS hits,
       CASE WHEN {idcg} IS NULL THEN NULL ELSE ({dcg}) / {idcg} END AS ndcg_at_10
FROM q LEFT JOIN label_totals ON qlabel = label
       LEFT JOIN per_q USING (query_id)
ORDER BY query_id
"""


QUERIES = (
    (tfidf_top_terms, _TFIDF_SQL),
    (embedding_centroids, _CENTROIDS_SQL),
    (retrieval_eval_metrics, _retrieval_eval_oracle()),
    (ndcg_at_10_eval, _ndcg_oracle()),
)
