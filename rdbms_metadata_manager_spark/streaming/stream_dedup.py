"""Registered end-to-end streaming exactly-once dedup — the
ingestion-hygiene shape every training-data pipeline needs first:
an at-least-once source (re-delivered files, replayed Kafka offsets)
deduped to exactly-once BEFORE anything downstream counts tokens or
trains. [beyond-reference] surface (SURVEY.md §2.2 streaming).

The query stages the events table as a 3-file source where the third
file RE-DELIVERS ~10% of the rows (same event_id, same payload —
the duplicate profile of a source retry), then drains it through

  readStream → withWatermark → dropDuplicatesWithinWatermark(event_id)
  → parquet append sink

with ``maxFilesPerTrigger=1``, so dedup state must survive ACROSS
micro-batches (the single-batch fast path would prove nothing). The
sink's rows are aggregated relationally; oracle = the same aggregate
over the ORIGINAL table, so equality proves every re-delivered row
was dropped and every original kept — and the emitted
``n_distinct_ids`` column equals ``n_events`` only when the output
really is exactly-once.

Watermark: sized past the dataset's time span here, so no row is
late-dropped and the oracle equality is exact. In production the
delay is the dedup horizon (how stale a retry can be) and bounds
state: ids older than it are evicted, which is what makes the
operator feasible on an unbounded stream.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load

# past any testdata time span: nothing is ever "late", state covers
# the whole replay, equality with the batch oracle is exact
DEDUP_HORIZON = "36500 days"
DUP_MODULUS = 10


def _drain(q, name: str) -> None:
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"availableNow drain of {name!r} did not finish in 300s")


def stream_dedup_exact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tempfile.mkdtemp(prefix="stream_dedup_")
    src, out, ckpt = (os.path.join(d, p) for p in ("src", "out", "ckpt"))
    try:
        base = load(spark, sf_dir, "events")
        # file 1+2: the original table; file 3: a re-delivered slice
        base.repartition(2).write.parquet(src)
        base.filter((F.col("event_id") % DUP_MODULUS) == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = stream.withWatermark("ts", DEDUP_HORIZON).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, "stream_dedup_exact_replay")

        result = (
            spark.read.schema(base.schema)
            .parquet(out)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_id").alias("n_distinct_ids"),
                F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                    "sum_value_ticks"
                ),
            )
            .orderBy("event_type")
            # materialize before the staging dir is deleted
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


_STREAM_DEDUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_distinct_ids,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_ticks
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = ((stream_dedup_exact_replay, _STREAM_DEDUP_SQL),)
