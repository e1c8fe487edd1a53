"""Streaming state-store introspection (Spark 4 ``statestore`` /
``state-metadata`` readers).

[beyond-reference] the ops face a production streaming pipeline
needs: the aggregation state that lives inside a checkpoint is
readable as a DataFrame, so "what does the stream believe right
now" and "which state partition is hot" are queries, not log
archaeology. At 100 TB of state the reader scans the HDFS/RocksDB
store files partition-parallel — the same N-partition layout the
stream itself writes, no replay of the source.

``streaming_state_rollup`` is the registered, ORACLE-checked face:
it runs the hourly event aggregation as an availableNow stream into
a throwaway checkpoint, then reads the RESULT back *from the state
store itself* and returns it relationally. The DuckDB oracle is the
equivalent batch aggregation over the same parquet — equality proves
the whole loop (stream → state files → statestore reader) is exact.
Sums carry integer milli-ticks (floor(value·1000)): both engines
aggregate longs, so no float aggregation order can drift.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

EVENTS_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)
EVENTS_SCHEMA_MICROS = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream with the same ts normalization the batch
    loader applies (see queries/base.py). Streaming sources need an
    explicit schema, so peek at the on-disk encoding with a one-off
    batch schema read (driver-side, metadata only) and pick the
    matching fixed schema."""
    on_disk = spark.read.parquet(source_dir).schema["ts"].dataType
    if isinstance(on_disk, LongType):
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA_NANOS)
            .format("parquet")
            .option("path", source_dir)
            .load()
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA_MICROS)
        .format("parquet")
        .option("path", source_dir)
        .load()
    )
    # Watermarks require TIMESTAMP (not NTZ); UTC session tz makes
    # this cast an exact identity on the stored micros.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_state_checkpoint(
    spark: SparkSession, sf_dir: str, ckpt: str, query_name: str
) -> None:
    """Drain the events table through the stateful per-type
    aggregation into ``ckpt`` (availableNow:
    process-everything-then-stop)."""
    # the file stream source needs a DIRECTORY; testdata ships a
    # single parquet file — stage it via symlink next to the ckpt
    src_dir = os.path.join(os.path.dirname(ckpt), "src")
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    stream = read_events_stream(spark, src_dir)
    agg = (
        _normalized_events(stream)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_ticks").alias("sum_value_ticks"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("noop")
        .queryName(query_name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # Timed-out drain: stop the query before the caller reads
        # (and later deletes) the checkpoint — proceeding here would
        # read partial state under a still-running query.
        q.stop()
        raise TimeoutError(
            f"availableNow drain of {query_name!r} did not finish in 300s"
        )


def _normalized_events(df: DataFrame) -> DataFrame:
    return df.select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("value_ticks"),
    )


def read_aggregation_state(spark: SparkSession, ckpt: str) -> DataFrame:
    """The checkpoint's aggregation state as rows: the ``statestore``
    reader exposes (key struct, value struct, partition_id). The
    value struct carries the AGGREGATION BUFFER with internal field
    names (`count`, `sum`, ...), in the aggregate-list order of the
    query that wrote the state — map positionally, not by alias."""
    ss = spark.read.format("statestore").load(ckpt)
    value_fields = ss.schema["value"].dataType.names
    return ss.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{value_fields[0]}").alias("n_events"),
        F.col(f"value.{value_fields[1]}").alias("sum_value_ticks"),
        "partition_id",
    )


def streaming_state_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream → checkpoint → state-store read-back, returned
    relationally (sorted, partition_id dropped so the result is
    layout-independent). Oracle = the batch aggregation."""
    d = tempfile.mkdtemp(prefix="state_rollup_")
    try:
        run_state_checkpoint(spark, sf_dir, f"{d}/ckpt", "state_rollup")
        state = (
            read_aggregation_state(spark, f"{d}/ckpt")
            .select("event_type", "n_events", "sum_value_ticks")
            .orderBy("event_type")
            # materialize before the checkpoint dir is deleted
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return state


_STATE_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_ticks
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = ((streaming_state_rollup, _STATE_ROLLUP_SQL),)
