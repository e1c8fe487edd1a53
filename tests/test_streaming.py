"""Structured Streaming test for the registered ``stream_dedup``
query: its id state must survive across micro-batches."""

from __future__ import annotations


def test_stream_dedup_replay_spans_multiple_microbatches(spark, sf_dir, tmp_path):
    """The registered dedup query's claim is that id state survives
    ACROSS micro-batches. Re-run its exact source staging and pin
    (a) maxFilesPerTrigger really split the drain into >=3 batches,
    (b) the re-delivered slice was deduped to exactly-once."""
    import pyspark.sql.functions as F

    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.streaming.stream_dedup import (
        DEDUP_HORIZON,
        DUP_MODULUS,
    )

    d = str(tmp_path)
    base = load(spark, sf_dir, "events")
    base.repartition(2).write.parquet(f"{d}/src")
    base.filter((F.col("event_id") % DUP_MODULUS) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/src")

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
    )
    q = (
        stream.withWatermark("ts", DEDUP_HORIZON)
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{d}/out")
        .option("checkpointLocation", f"{d}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 3, f"expected one batch per staged file, got {n_batches}"

    out = spark.read.schema(base.schema).parquet(f"{d}/out")
    n_base = base.count()
    assert out.count() == n_base
    assert out.select("event_id").distinct().count() == n_base
