"""Streaming near-dup dedup at ingest: watermarked MinHash-band
filtering — the NEAR-dup twin of ``stream_dedup_exact_replay`` (which
proves exactly-once for exact ids only) and the incremental twin of
``llm/dedup.py::dedup_incremental_batch`` (same corpus-vs-incoming
split, but the index keys are MinHash LSH band buckets instead of
opening-prefix fingerprints, so the ingest path catches NEAR
duplicates, not just byte-identical retries).
[beyond-reference] SURVEY.md §2.2 streaming + dedup surface
(VERDICT r7 item 4).

Shape: the hash-deterministic 80% split of ``documents`` plays the
already-ingested corpus — its (band, bucket) MinHash index is the
16-byte-per-(doc, band) table a production service maintains
incrementally, NEVER a rescan of the 100 TB corpus. The other 20%
arrives as a stream staged into three doc_id-tercile files plus a
FOURTH file that re-delivers ~1/10 of the stream rows (the retry
profile), drained one file per micro-batch through

  readStream → withWatermark → dropDuplicatesWithinWatermark(doc_id)
  → foreachBatch: band the batch, drop docs whose any band bucket
    hits (a) the corpus index, (b) the seen-state from earlier
    batches, or (c) a smaller doc_id in the same batch; append
    survivors to the sink and fold ALL processed docs' band keys into
    the versioned seen-state.

Because the stream files are doc_id-ordered terciles, "seen in an
earlier batch" coincides with "smaller doc_id", so the stream output
equals a pure batch spec with NO order dependence: a stream doc
survives iff none of its band buckets appears in the corpus index and
it is the minimum doc_id among stream docs for EVERY bucket it has.
The DuckDB oracle states exactly that spec; ``n_files_ingested`` pins
— from the checkpoint's committed source log, not from foreachBatch
firing (ADVICE r8 #4) — that the redelivery file really was admitted
by the stream (its rows all deduped away).
Seen-state accumulates SEEN docs, not accepted ones — the first-claim
rule (min doc_id per bucket, accepted or not) is what keeps the
online rule equal to the order-free spec.

Docs with fewer than 3 words have no 3-word shingles, hence no
signature — they bypass near-dup filtering entirely and are excluded
here (mirrors ``_SHINGLED_SQL``'s ``len >= 3`` filter; the exact-id
face already covers them).

Scale: per batch, banding is one md5-per-shingle projection over the
BATCH only; the corpus index probe is a (band, bucket)-keyed semi
join that AQE broadcast-flips when the batch is small; seen-state
grows 16 B × MINHASH_BANDS per processed doc — the same index the
batch pipeline would build, amortized over the stream. Same
write-next-then-replace state versioning as streaming/sketch_state.py.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.dedup import minhash_band_keys, minhash_sigs, shingle_hashes
from ..llm.sampling import _SPLIT_BUCKET_SQL, _split_bucket
from ..queries.base import load
from .stream_dedup import DEDUP_HORIZON, _drain

N_STREAM_FILES = 3
REDELIVERY_MODULUS = 10


def _bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) for any (doc_id, text) relation —
    exactly the batch pipeline's expressions (llm/dedup.py helpers)."""
    return minhash_band_keys(minhash_sigs(shingle_hashes(docs)))


def stream_survivor_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-free BATCH spec the stream must equal: survivors of
    the 20% split against the 80% corpus band index, min-doc_id-per-
    bucket within the stream. Used by the equality test and as the
    one-shot reference; the registered query returns the STREAMED
    computation."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", _split_bucket(F.col("doc_id")).alias("split_b")
    )
    bands = _bands_of(docs.select("doc_id", "text")).join(
        docs.select("doc_id", "split_b"), "doc_id"
    )
    corpus_idx = (
        bands.filter(F.col("split_b") < 80).select("band", "bucket").distinct()
    )
    stream_bands = bands.filter(F.col("split_b") >= 80).select(
        "doc_id", "band", "bucket"
    )
    claims = stream_bands.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("first_id")
    )
    dropped = (
        stream_bands.join(corpus_idx, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .unionByName(
            stream_bands.join(claims, ["band", "bucket"])
            .filter(F.col("doc_id") > F.col("first_id"))
            .select("doc_id")
        )
        .distinct()
    )
    return (
        stream_bands.select("doc_id")
        .distinct()
        .join(dropped, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


def stream_dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tempfile.mkdtemp(prefix="stream_mh_")
    src, out, ckpt, state_root = (
        os.path.join(d, p) for p in ("src", "out", "ckpt", "state")
    )
    os.makedirs(state_root)
    try:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            _split_bucket(F.col("doc_id")).alias("split_b"),
            # synthetic event time (epoch + doc_id seconds): documents
            # carries no timestamp; the watermark column just needs to
            # be deterministic and identical on redelivery
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id")).alias("ts"),
        )
        corpus_idx = (
            _bands_of(docs.filter(F.col("split_b") < 80).select("doc_id", "text"))
            .select("band", "bucket")
            .distinct()
            .localCheckpoint(eager=True)  # the pre-existing corpus index
        )
        incoming = (
            docs.filter(F.col("split_b") >= 80)
            .select("doc_id", "text", "ts")
            # only shingle-able docs enter the near-dup path (see module doc)
            .filter(F.size(F.split(F.col("text"), " ")) >= 3)
        )

        # Stage doc_id-ordered terciles as separate sequential writes,
        # then the redelivery file; FileStreamSource drains oldest
        # mtime first, so pin mtimes explicitly (sub-second writes
        # would otherwise tie).
        from pyspark.sql import Window

        tiled = incoming.withColumn(
            "tile", F.ntile(N_STREAM_FILES).over(Window.orderBy("doc_id"))
        )
        for k in range(1, N_STREAM_FILES + 1):
            tiled.filter(F.col("tile") == k).drop("tile").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _bump_mtimes(src, k)
        incoming.filter((F.col("doc_id") % REDELIVERY_MODULUS) == 0).coalesce(
            1
        ).write.mode("append").parquet(src)
        _bump_mtimes(src, N_STREAM_FILES + 1)

        def _latest_seen() -> DataFrame | None:
            versions = sorted(
                (p for p in os.listdir(state_root) if p.startswith("state_v")),
                key=lambda p: int(p.rsplit("v", 1)[1]),
            )
            if not versions:
                return None
            return spark.read.parquet(os.path.join(state_root, versions[-1]))

        def _ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
            bands_b = _bands_of(batch_df.select("doc_id", "text")).localCheckpoint(
                eager=True
            )
            seen = _latest_seen()
            index = corpus_idx if seen is None else corpus_idx.unionByName(seen)
            hit_index = bands_b.join(index, ["band", "bucket"], "left_semi").select(
                "doc_id"
            )
            claims = bands_b.groupBy("band", "bucket").agg(
                F.min("doc_id").alias("first_id")
            )
            hit_claim = (
                bands_b.join(claims, ["band", "bucket"])
                .filter(F.col("doc_id") > F.col("first_id"))
                .select("doc_id")
            )
            survivors = (
                bands_b.select("doc_id")
                .distinct()
                .join(hit_index.unionByName(hit_claim).distinct(), "doc_id", "left_anti")
            )
            survivors.coalesce(1).write.mode("append").parquet(out)
            new_seen = (
                bands_b.select("band", "bucket")
                if seen is None
                else seen.unionByName(bands_b.select("band", "bucket"))
            ).distinct()
            new_seen.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(state_root, f"state_v{batch_id}")
            )

        stream = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.withWatermark("ts", DEDUP_HORIZON)
            .dropDuplicatesWithinWatermark(["doc_id"])
            .writeStream.foreachBatch(_ingest_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, "stream_dedup_minhash_bands")

        # ADVICE r8 #4: the old pin counted state_v files, which
        # relies on Spark SCHEDULING a foreachBatch for the final
        # micro-batch that dropDuplicatesWithinWatermark empties
        # completely — version-sensitive behaviour, not a contract.
        # The contract is the SOURCE log: the checkpoint's
        # sources/0/<batch> files each list the staged files that
        # batch admitted, and all N_STREAM_FILES + 1 staged files
        # (terciles + the redelivery file) must appear there no
        # matter how the engine batches or skips downstream-empty
        # work. n_files_ingested pins that; the redelivery batch's
        # emptiness is separately pinned by the survivor set itself
        # (a re-emitted survivor would duplicate a doc_id and break
        # the hash compare).
        n_files = _count_source_files(ckpt)
        n_state = len([p for p in os.listdir(state_root) if p.startswith("state_v")])
        if not (N_STREAM_FILES <= n_state <= N_STREAM_FILES + 1):
            raise AssertionError(
                f"expected {N_STREAM_FILES} or {N_STREAM_FILES + 1} processed "
                f"micro-batches (redelivery batch may be skipped when fully "
                f"deduped), got {n_state}"
            )
        result = (
            spark.read.parquet(out)
            .select("doc_id", F.lit(n_files).cast("bigint").alias("n_files_ingested"))
            .orderBy("doc_id")
            # materialize before the staging dir is deleted
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


def _count_source_files(ckpt: str) -> int:
    """Total staged files admitted by the FileStreamSource, read from
    the checkpoint's committed source log (``sources/0/<batchId>`` —
    one JSON entry per admitted file after the ``v1`` header line)."""
    import json

    src_log = os.path.join(ckpt, "sources", "0")
    n = 0
    # batch log files are named by their integer batch id; skip CRC
    # sidecars / compaction artifacts
    for name in os.listdir(src_log):
        if not name.isdigit():
            continue
        with open(os.path.join(src_log, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{") and "path" in json.loads(line):
                    n += 1
    return n


def _bump_mtimes(src: str, k: int) -> None:
    """Pin every not-yet-pinned data file's mtime to a distinct step
    so the file source's oldest-first order matches write order."""
    base = 1_700_000_000
    for name in os.listdir(src):
        if name.startswith("part-") or name.startswith("_"):
            p = os.path.join(src, name)
            if os.path.getmtime(p) > base + 100:
                os.utime(p, (base + k, base + k))


_STREAM_MINHASH_SQL = """
WITH docs3 AS (
  SELECT doc_id, text, __SPLIT__ AS split_b
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT doc_id, split_b,
         list_distinct(list_transform(__SHINGLES__, s -> __H32__)) AS hashes
  FROM docs3
),
sig AS (SELECT doc_id, split_b, __SIG__ AS sig FROM sh),
bands AS (
  SELECT doc_id, split_b, b AS band,
         md5(array_to_string(sig[b * __ROWS__ + 1 : b * __ROWS__ + __ROWS__], ',')) AS bucket
  FROM sig, UNNEST(range(0, __BANDS__)) AS t(b)
),
corpus_idx AS (SELECT DISTINCT band, bucket FROM bands WHERE split_b < 80),
stream_bands AS (SELECT doc_id, band, bucket FROM bands WHERE split_b >= 80),
claims AS (SELECT band, bucket, min(doc_id) AS first_id FROM stream_bands GROUP BY 1, 2),
dropped AS (
  SELECT DISTINCT doc_id FROM stream_bands sb
  WHERE EXISTS (SELECT 1 FROM corpus_idx c
                WHERE c.band = sb.band AND c.bucket = sb.bucket)
     OR EXISTS (SELECT 1 FROM claims cl
                WHERE cl.band = sb.band AND cl.bucket = sb.bucket
                  AND cl.first_id < sb.doc_id)
)
SELECT doc_id, 4::BIGINT AS n_files_ingested
FROM (SELECT DISTINCT doc_id FROM stream_bands)
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY doc_id
"""


def _render_oracle() -> str:
    from ..llm.dedup import (
        MINHASH_BANDS,
        MINHASH_ROWS,
        _MINHASH_SIG_SQL,
    )
    from ..llm.hashing import h32_sql, word_shingles_sql

    return (
        _STREAM_MINHASH_SQL.replace("__SIG__", _MINHASH_SIG_SQL)
        .replace("__SHINGLES__", word_shingles_sql("string_split(text, ' ')"))
        .replace("__H32__", h32_sql("s"))
        .replace("__SPLIT__", _SPLIT_BUCKET_SQL)
        .replace("__ROWS__", str(MINHASH_ROWS))
        .replace("__BANDS__", str(MINHASH_BANDS))
    )


QUERIES = ((stream_dedup_minhash_bands, _render_oracle()),)
