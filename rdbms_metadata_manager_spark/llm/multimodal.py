"""Multimodal column plumbing: opaque binary blobs + typed metadata,
processed with Arrow-batched ``mapInPandas``.

[beyond-reference] surface. The container has no image/audio codecs,
so the DECODE step is stubbed: ``_try_real_decode`` gates the real
libraries behind an import-try and the pipeline falls back to a
deterministic md5-derived fake feature extractor. Everything
Spark-side is real and tested — BinaryType column, modality metadata,
mapInPandas batch iteration, output schema — and the fake features
are reproducible in SQL, so even the Python-UDF path has an exact
DuckDB oracle.

Scale: mapInPandas streams Arrow batches executor-side (no driver
involvement, no per-row Python); at 100 TB you partition by the blob
store layout and tune ``spark.sql.execution.arrow.maxRecordsPerBatch``
to keep batches ~64 MB.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load_spread

MODALITIES = ["image", "audio", "video"]

FEATURES_SCHEMA = (
    "doc_id bigint, modality string, n_bytes bigint, content_hash string, "
    "width int, height int"
)


# Codec availability, probed ONCE per worker process: CPython does
# not cache FAILED imports, so a per-row try/import would re-scan
# sys.path for every blob in the hot Arrow batch loop.
_CODECS: dict[str, bool] = {}


def _codec_available(modality: str) -> bool:
    if modality not in _CODECS:
        mod = {"image": "PIL", "audio": "soundfile", "video": "av"}[modality]
        try:
            __import__(mod)
            _CODECS[modality] = True
        except ImportError:
            _CODECS[modality] = False
    return _CODECS[modality]


def _try_real_decode(blob: bytes, modality: str):
    """Real decoder when a codec library is available; returns None —
    falling through to the deterministic fake — when the library is
    missing OR the blob doesn't decode (the synthetic testdata blobs
    don't). On a deployment with real media, the decoded dimensions
    replace the fake ones (and the md5 oracle no longer applies —
    it pins the plumbing, not the codec)."""
    import io

    if not _codec_available(modality):
        return None
    try:
        if modality == "image":
            from PIL import Image

            with Image.open(io.BytesIO(blob)) as im:
                w, h = im.size
            return hashlib.md5(blob).hexdigest()[:8], int(w), int(h)
        if modality == "audio":
            import soundfile

            data, rate = soundfile.read(io.BytesIO(blob))
            channels = int(data.shape[1]) if data.ndim > 1 else 1
            return hashlib.md5(blob).hexdigest()[:8], channels, int(rate)
        import av

        with av.open(io.BytesIO(blob)) as container:
            v = next(s for s in container.streams if s.type == "video")
            return hashlib.md5(blob).hexdigest()[:8], int(v.width), int(v.height)
    except Exception:
        return None


def _fake_features(blob: bytes) -> tuple[str, int, int]:
    """Deterministic md5-derived stand-in for decoded media features,
    mirrored by the SQL oracle."""
    h = hashlib.md5(blob).hexdigest()
    width = 64 + int(h[8:12], 16) % 448
    height = 64 + int(h[12:16], 16) % 448
    return h[:8], width, height


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [
            _try_real_decode(blob, mod) or _fake_features(blob)
            for blob, mod in zip(pdf["blob"], pdf["modality"])
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "modality": pdf["modality"],
                "n_bytes": [len(b) for b in pdf["blob"]],
                "content_hash": [f[0] for f in feats],
                "width": pd.Series([f[1] for f in feats], dtype="int32"),
                "height": pd.Series([f[2] for f in feats], dtype="int32"),
            }
        )


def _blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized blob table (the container ships no media files):
    BinaryType blob + modality tag, doc_id % 3 → image/audio/video."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("blob"),
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]), (F.col("doc_id") % 3 + 1).cast("int")
        ).alias("modality"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the decode/feature-extract stage through mapInPandas."""
    return _blobs(spark, sf_dir).mapInPandas(_decode_batches, FEATURES_SCHEMA).orderBy(
        "doc_id"
    )


_FEATURES_SQL = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       strlen(text)              AS n_bytes,
       substr(md5(text), 1, 8)   AS content_hash,
       CAST(64 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 448 AS INT)  AS width,
       CAST(64 + ('0x' || substr(md5(text), 13, 4))::BIGINT % 448 AS INT) AS height
FROM documents
ORDER BY doc_id
"""


DST_W, DST_H = 224, 224

RESIZE_SCHEMA = (
    "doc_id bigint, modality string, src_width int, src_height int, "
    "dst_width int, dst_height int, scale_x double, scale_y double, "
    "resized_hash string"
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize plumbing: the real pixel resample would live where the
    fake hash transform is (gated by ``_try_real_decode``); the
    Spark-visible contract — batch shape, scale arithmetic, output
    schema — is the production one. Python ``/`` is IEEE double
    division, bit-identical to the SQL oracle's ``224.0 / width``."""
    for pdf in batches:
        rows = []
        for doc_id, blob, mod in zip(pdf["doc_id"], pdf["blob"], pdf["modality"]):
            decoded = _try_real_decode(blob, mod)  # real dims when codecs exist
            h = hashlib.md5(blob).hexdigest()
            if decoded is not None:
                chash, w, hgt = decoded
            else:
                chash, w, hgt = h[:8], 64 + int(h[8:12], 16) % 448, 64 + int(h[12:16], 16) % 448
            rows.append(
                (
                    doc_id, mod, w, hgt, DST_W, DST_H, DST_W / w, DST_H / hgt,
                    hashlib.md5(f"{chash}:{DST_W}x{DST_H}".encode()).hexdigest()[:8],
                )
            )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "modality", "src_width", "src_height",
                    "dst_width", "dst_height", "scale_x", "scale_y", "resized_hash",
                ],
            ).astype({"src_width": "int32", "src_height": "int32",
                      "dst_width": "int32", "dst_height": "int32"})


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image/frame resize stage (1→1 mapInPandas)."""
    return _blobs(spark, sf_dir).mapInPandas(_resize_batches, RESIZE_SCHEMA).orderBy(
        "doc_id"
    )


_RESIZE_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         substr(md5(text), 1, 8) AS chash,
         CAST(64 + ('0x' || substr(md5(text), 9, 4))::BIGINT % 448 AS INT)  AS src_width,
         CAST(64 + ('0x' || substr(md5(text), 13, 4))::BIGINT % 448 AS INT) AS src_height
  FROM documents
)
SELECT doc_id, modality, src_width, src_height,
       {DST_W} AS dst_width, {DST_H} AS dst_height,
       {DST_W}.0 / src_width  AS scale_x,
       {DST_H}.0 / src_height AS scale_y,
       substr(md5(chash || ':{DST_W}x{DST_H}'), 1, 8) AS resized_hash
FROM f
ORDER BY doc_id
"""


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_ts_ms bigint, frame_hash string"


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling is 1→N: each video blob yields several frame
    rows — the batch shape a real keyframe sampler needs (rows out ≠
    rows in). Frame count derives deterministically from the blob."""
    for pdf in batches:
        rows = []
        for doc_id, blob, mod in zip(pdf["doc_id"], pdf["blob"], pdf["modality"]):
            if mod != "video":
                continue
            # with a real codec the sampler would read keyframe
            # timestamps from the decoded container here; the fake
            # path skips the (cached-negative) probe's None result
            _try_real_decode(blob, mod)
            h = hashlib.md5(blob).hexdigest()
            n_frames = 2 + int(h[16:18], 16) % 3
            for j in range(n_frames):
                rows.append(
                    (doc_id, j, j * 1000,
                     hashlib.md5(f"{h[:8]}-{j}".encode()).hexdigest()[:8])
                )
        if rows:
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_ts_ms", "frame_hash"]
            ).astype({"frame_idx": "int32"})


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video keyframe sampling stage (1→N mapInPandas)."""
    return (
        _blobs(spark, sf_dir)
        .mapInPandas(_frame_batches, FRAME_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )


_FRAME_SQL = """
WITH v AS (
  SELECT doc_id, substr(md5(text), 1, 8) AS h8,
         2 + ('0x' || substr(md5(text), 17, 2))::BIGINT % 3 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id, j::INT AS frame_idx, (j * 1000)::BIGINT AS frame_ts_ms,
       substr(md5(h8 || '-' || j), 1, 8) AS frame_hash
FROM v, LATERAL (SELECT unnest(range(0, n_frames)) AS j) t
ORDER BY doc_id, frame_idx
"""




# Audio chunking geometry: fake decode rate 64 samples/byte at
# 16 kHz — chosen so the test corpora exercise BOTH branches (short
# blobs -> a single clamped window, long blobs -> 3-4 overlapping
# windows; at 8 samples/byte every blob fit one window and the
# fan-out path was never executed). 1-second windows with 50%
# overlap — the standard ASR/embedding pre-segmentation (overlapping
# windows, unlike the video face's discrete keyframes).
AUDIO_SR = 16000
AUDIO_WIN = 16000
AUDIO_HOP = 8000

CHUNK_SCHEMA = (
    "doc_id bigint, chunk_idx int, start_ms bigint, end_ms bigint, "
    "chunk_hash string"
)


def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Audio windowing is 1→N with OVERLAP: each audio blob yields
    ceil((samples−WIN)/HOP)+1 half-overlapping windows — the batch
    shape a real resample/VAD/embedding segmenter needs. Sample count
    derives deterministically from the blob (real decoders slot in at
    the gated probe); all window arithmetic is integer floor-division
    so the SQL oracle reproduces it exactly."""
    for pdf in batches:
        rows = []
        for doc_id, blob, mod in zip(pdf["doc_id"], pdf["blob"], pdf["modality"]):
            if mod != "audio":
                continue
            # a real deployment decodes the true sample count here
            # (soundfile.read) IN PLACE of the fake rate below — the
            # probe is deliberately not called on this path because
            # its result would be discarded (decode is not free)
            h = hashlib.md5(blob).hexdigest()
            n_samples = len(blob) * 64  # fake decode rate, documented above
            if n_samples <= AUDIO_WIN:
                n_chunks = 1
            else:
                n_chunks = (n_samples - AUDIO_WIN + AUDIO_HOP - 1) // AUDIO_HOP + 1
            for j in range(n_chunks):
                start = j * AUDIO_HOP
                end = min(start + AUDIO_WIN, n_samples)
                rows.append(
                    (
                        doc_id,
                        j,
                        start * 1000 // AUDIO_SR,
                        end * 1000 // AUDIO_SR,
                        hashlib.md5(f"{h[:8]}:{j}".encode()).hexdigest()[:8],
                    )
                )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "chunk_idx", "start_ms", "end_ms", "chunk_hash"],
            ).astype({"chunk_idx": "int32"})


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio window-chunking stage (1→N overlapping mapInPandas) —
    completes the per-modality stage triple: image resize, video
    keyframe sample, audio windowing."""
    return (
        _blobs(spark, sf_dir)
        .mapInPandas(_audio_batches, CHUNK_SCHEMA)
        .orderBy("doc_id", "chunk_idx")
    )


_AUDIO_SQL = f"""
WITH a AS (
  SELECT doc_id, substr(md5(text), 1, 8) AS h8,
         strlen(text) * 64 AS n_samples
  FROM documents WHERE doc_id % 3 = 1
),
c AS (
  SELECT doc_id, h8, n_samples,
         CASE WHEN n_samples <= {AUDIO_WIN} THEN 1
              ELSE (n_samples - {AUDIO_WIN} + {AUDIO_HOP} - 1) // {AUDIO_HOP} + 1
         END AS n_chunks
  FROM a
)
SELECT doc_id, j::INT AS chunk_idx,
       (j * {AUDIO_HOP} * 1000 // {AUDIO_SR})::BIGINT AS start_ms,
       (least(j * {AUDIO_HOP} + {AUDIO_WIN}, n_samples) * 1000 // {AUDIO_SR})::BIGINT AS end_ms,
       substr(md5(h8 || ':' || j), 1, 8) AS chunk_hash
FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS j) t
ORDER BY doc_id, chunk_idx
"""

QUERIES = (
    (multimodal_features, _FEATURES_SQL),
    (multimodal_resize, _RESIZE_SQL),
    (multimodal_frame_sample, _FRAME_SQL),
    (multimodal_audio_chunks, _AUDIO_SQL),
)
