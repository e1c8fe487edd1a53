"""Tests for the Spark 4 state-store introspection face."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.streaming.state_inspect import (
    read_aggregation_state,
    run_state_checkpoint,
    streaming_state_rollup,
)


def test_state_readback_equals_batch_aggregation(spark, sf_dir):
    """The statestore reader must surface exactly what the batch
    aggregation computes — the stream → state files → reader loop
    loses nothing."""
    from rdbms_metadata_manager_spark.queries.base import load

    got = {
        (r.event_type): (r.n_events, r.sum_value_ticks)
        for r in streaming_state_rollup(spark, sf_dir).collect()
    }
    want = {
        r.event_type: (r.n, r.s)
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_state_metadata_and_partition_layout(spark, sf_dir, tmp_path):
    """The ops faces: state-metadata names the operator and the
    partition count matches the shuffle layout the stream wrote;
    per-partition state rows union to the full key set."""
    ckpt = str(tmp_path / "ckpt")
    run_state_checkpoint(spark, sf_dir, ckpt, "state_meta_test")

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    assert meta[0].operatorName == "stateStoreSave"
    n_parts = meta[0].numPartitions
    assert n_parts == int(spark.conf.get("spark.sql.shuffle.partitions"))

    state = read_aggregation_state(spark, ckpt)
    rows = state.collect()
    assert {r.event_type for r in rows} == {
        r.event_type
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type")
        .distinct()
        .collect()
    }
    # every state row sits in a valid partition of the declared layout
    assert all(0 <= r.partition_id < n_parts for r in rows)
