"""Python DataSource WRITER (Spark 4): an Arrow-native parquet sink
with a two-phase commit — the write-side twin of the pyds readers in
this package (sources/pyds.py). [beyond-reference] surface
(SURVEY.md §2.2 sinks).

``DataSourceArrowWriter`` hands each executor task its partition as
Arrow RecordBatches (no Row-object materialization — the same
columnar hot path mapInArrow uses); the task streams them into one
STAGED parquet file (underscore-prefixed, so Spark's file index
ignores it) and returns a commit message (rows, staged path). The
DRIVER-side ``commit`` publishes by renaming staged files to their
final ``part-<j>.parquet`` names and then writes ``_manifest.json``
— a failed or speculatively-retried task's staged file is never
renamed, so it stays invisible to every reader glob; ``abort``
removes the staged files it knows about. Visibility is therefore
genuinely gated by the driver commit (the same stage-then-publish
protocol as the stream sink below).

That task-message → driver-commit protocol is exactly the contract
that makes distributed writes exactly-once-able on object stores;
the registered round-trip query proves it end-to-end: rows written
through the sink and read back must aggregate identically to the
source table (the oracle).
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..queries.base import load


@dataclasses.dataclass
class _PartCommit(WriterCommitMessage):
    rows: int
    path: str


class _ArrowParquetSinkWriter(DataSourceArrowWriter):
    def __init__(self, path: str):
        self._path = path

    def write(self, iterator) -> _PartCommit:
        import pyarrow.parquet as pq

        # underscore prefix: invisible to Spark reads until commit renames
        part = os.path.join(self._path, f"_staged-{uuid.uuid4().hex}.parquet")
        rows = 0
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(part, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        return _PartCommit(rows=rows, path=part if writer is not None else "")

    def commit(self, messages) -> None:
        published = []
        for j, m in enumerate(sorted((m for m in messages if m.path), key=lambda m: m.path)):
            final = os.path.join(self._path, f"part-{j:05d}.parquet")
            os.rename(m.path, final)
            published.append(final)
        manifest = {
            "total_rows": sum(m.rows for m in messages),
            "files": published,
        }
        with open(os.path.join(self._path, "_manifest.json"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.path:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class ArrowParquetSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "arrow_parquet_sink"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceArrowWriter:
        path = self.options.get("path")
        if not path:
            raise ValueError("arrow_parquet_sink requires a 'path' option")
        return _ArrowParquetSinkWriter(path)


def write_through_sink(df: DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    spark = df.sparkSession
    spark.dataSource.register(ArrowParquetSink)
    df.write.format("arrow_parquet_sink").option("path", path).mode("append").save()


def pyds_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written through the Arrow sink, read back, aggregated —
    equality with the oracle (the same aggregate over the source
    table) proves no row was lost, duplicated, or mangled by the
    executor-side Arrow write path."""
    d = tempfile.mkdtemp(prefix="pyds_sink_")
    import shutil

    try:
        src = load(spark, sf_dir, "orders").select(
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        write_through_sink(src, d)
        result = (
            spark.read.schema("o_orderstatus string, cents long")
            .parquet(d)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
            # materialize before the staging dir is deleted
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


_SINK_ROUNDTRIP_SQL = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Streaming flavor: a DataSourceStreamWriter with per-batch commits.
# Completes the Python DataSource matrix: batch read (catalog_fixture),
# stream read (tick_stream), batch write (arrow_parquet_sink), and now
# stream write.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamWriter  # noqa: E402


@dataclasses.dataclass
class _StagedPart(WriterCommitMessage):
    rows: int
    staged: str


class _JsonlStreamSinkWriter(DataSourceStreamWriter):
    """Executor tasks stage JSON-lines files under temporary names;
    the DRIVER-side per-batch ``commit(messages, batchId)`` renames
    them to ``tick-<batch>-<j>.jsonl`` — a reader (or the read-back
    below, globbing ``tick-*``) can never observe a half-written
    batch, and ``abort`` removes the staged files. The same
    stage-then-publish protocol as the batch sink, once per
    micro-batch."""

    def __init__(self, path: str):
        self._path = path

    def write(self, iterator) -> _StagedPart:
        part = os.path.join(self._path, f"staged-{uuid.uuid4().hex}.jsonl")
        rows = 0
        with open(part, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                rows += 1
        return _StagedPart(rows=rows, staged=part)

    def commit(self, messages, batchId: int) -> None:
        for j, m in enumerate(messages):
            os.rename(m.staged, os.path.join(self._path, f"tick-{batchId}-{j}.jsonl"))

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(m.staged)
                except OSError:
                    pass


class JsonlStreamSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_stream_sink"

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        path = self.options.get("path")
        if not path:
            raise ValueError("jsonl_stream_sink requires a 'path' option")
        return _JsonlStreamSinkWriter(path)


TICK_LIMIT = 1000
TICK_BATCH = 100


def pyds_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python stream source → Python stream sink, end to end: the
    deterministic tick stream (10 micro-batches) written through the
    per-batch-committed JSONL sink, read back and aggregated. The
    oracle is CLOSED FORM (the tick rows are a pure function of the
    offset), so equality proves the whole loop — offsets, staging,
    batch commit — delivered exactly-once. ``sf_dir`` is unused: the
    source synthesizes its rows, like the catalog fixture faces."""
    from .pyds import read_tick_stream

    d = tempfile.mkdtemp(prefix="pyds_stream_sink_")
    import shutil

    try:
        spark.dataSource.register(JsonlStreamSink)
        q = (
            read_tick_stream(spark, batch=TICK_BATCH, limit=TICK_LIMIT)
            .writeStream.format("jsonl_stream_sink")
            .option("path", d)
            .option("checkpointLocation", os.path.join(d, "_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        result = (
            spark.read.schema("tick_id long, user_id long, kind string, amount long")
            .json(os.path.join(d, "tick-*.jsonl"))
            .groupBy("kind")
            .agg(
                F.count(F.lit(1)).alias("n_ticks"),
                F.sum("amount").alias("sum_amount"),
            )
            .orderBy("kind")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


_STREAM_SINK_SQL = f"""
SELECT CASE i % 3 WHEN 0 THEN 'view' WHEN 1 THEN 'click' ELSE 'buy' END AS kind,
       count(*) AS n_ticks,
       CAST(sum((i * i) % 1000) AS BIGINT) AS sum_amount
FROM (SELECT range AS i FROM range(0, {TICK_LIMIT}))
GROUP BY 1
ORDER BY kind
"""


QUERIES = (
    (pyds_sink_roundtrip, _SINK_ROUNDTRIP_SQL),
    (pyds_stream_sink_roundtrip, _STREAM_SINK_SQL),
)
