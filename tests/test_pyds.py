"""Tests for the Spark 4 Python DataSource (sources/pyds.py) and the
grouped-agg pandas UDAF (llm/udfs.py::gini_numerator)."""

from __future__ import annotations

import pytest

from rdbms_metadata_manager_spark.catalog import fixtures
from rdbms_metadata_manager_spark.sources import read_catalog_fixture
from rdbms_metadata_manager_spark.sources.pyds import _CatalogFixtureReader


def test_pyds_columns_match_inmemory_fixture(spark):
    via_ds = {tuple(r) for r in read_catalog_fixture(spark, "columns", "ecommerce").collect()}
    via_mem = {tuple(r) for r in fixtures.columns_meta(spark, "ecommerce_db").collect()}
    assert via_ds == via_mem and via_ds


def test_pyds_one_partition_per_table(spark):
    reader = _CatalogFixtureReader("columns", "ecommerce")
    parts = reader.partitions()
    tables = {r[1] for r in fixtures.ECOMMERCE_COLUMNS}
    assert {p.table_name for p in parts} == tables
    # the union of per-partition reads is exactly the fixture
    rows = [r for p in parts for r in reader.read(p)]
    assert sorted(rows) == sorted(fixtures.column_rows("ecommerce_db"))


def test_pyds_foreign_keys_face_carries_arrays(spark):
    df = read_catalog_fixture(spark, "foreign_keys", "quirks")
    rows = df.collect()
    assert rows
    assert all(isinstance(r["constrained_columns"], list) for r in rows)


def test_pyds_rejects_unknown_face(spark):
    with pytest.raises(Exception, match="unknown face"):
        spark.read.format("catalog_fixture").option("face", "nope").load().collect()


def test_gini_udaf_matches_python_reference(spark, sf_dir):
    from rdbms_metadata_manager_spark.llm.udfs import pandas_udaf_gini_acctbal
    from rdbms_metadata_manager_spark.queries.base import load

    got = {r["c_mktsegment"]: r for r in pandas_udaf_gini_acctbal(spark, sf_dir).collect()}
    import math

    raw = load(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal").collect()
    by_seg: dict[str, list[int]] = {}
    for r in raw:
        by_seg.setdefault(r["c_mktsegment"], []).append(math.floor(r["c_acctbal"] * 100 + 0.5))
    assert set(got) == set(by_seg)
    for seg, vals in by_seg.items():
        xs = sorted(vals)
        n = len(xs)
        expect = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
        assert got[seg]["gini_num"] == expect, seg
        assert got[seg]["n_customers"] == n
        # Gini numerator of a nonnegative-spread sorted sum is >= 0
        assert got[seg]["gini_num"] >= 0


def test_tick_stream_aggregate_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from rdbms_metadata_manager_spark.sources import read_tick_stream
    from rdbms_metadata_manager_spark.sources.pyds import TICK_SCHEMA_DDL, _tick

    limit = 500
    ticks = read_tick_stream(spark, batch=64, limit=limit)
    assert ticks.isStreaming
    agg = ticks.groupBy("kind").agg(
        F.count("*").alias("n"), F.sum("amount").alias("amt")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("tick_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("tick_agg").collect())
    batch = spark.createDataFrame([_tick(i) for i in range(limit)], TICK_SCHEMA_DDL)
    expected = sorted(
        tuple(r)
        for r in batch.groupBy("kind")
        .agg(F.count("*").alias("n"), F.sum("amount").alias("amt"))
        .collect()
    )
    assert got == expected


def test_tick_stream_replay_between_offsets_is_exact(spark):
    from rdbms_metadata_manager_spark.sources.pyds import _tick, _TickStreamReader

    r = _TickStreamReader(batch=64, limit=1000)
    first, off1 = r.read(r.initialOffset())
    assert off1 == {"pos": 64} and list(first) == [_tick(i) for i in range(64)]
    # replay an arbitrary committed range: identical rows re-derived
    replay = list(r.readBetweenOffsets({"pos": 64}, {"pos": 192}))
    assert replay == [_tick(i) for i in range(64, 192)]
    # the source drains at the limit: empty batch, offset parked
    tail, off2 = r.read({"pos": 1000})
    assert list(tail) == [] and off2 == {"pos": 1000}


def test_pyds_sink_manifest_accounts_for_every_row(spark, sf_dir, tmp_path):
    """The driver-side commit must see exactly the written rows: the
    manifest total equals the source count, every listed part file
    exists, and the underscore manifest is invisible to a read."""
    import json
    import os

    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.sources.pyds_sink import write_through_sink

    d = str(tmp_path / "sink")
    src = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    write_through_sink(src, d)
    manifest = json.load(open(os.path.join(d, "_manifest.json")))
    n = src.count()
    assert manifest["total_rows"] == n
    assert manifest["files"] and all(os.path.exists(p) for p in manifest["files"])
    assert spark.read.parquet(d).count() == n


def test_pyds_sink_empty_frame_commits_zero_rows(spark, sf_dir, tmp_path):
    import json
    import os

    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.sources.pyds_sink import write_through_sink

    d = str(tmp_path / "sink0")
    src = load(spark, sf_dir, "orders").select("o_orderkey").limit(0)
    write_through_sink(src, d)
    manifest = json.load(open(os.path.join(d, "_manifest.json")))
    assert manifest["total_rows"] == 0
    assert spark.read.schema("o_orderkey long").parquet(d).count() == 0


def test_arrow_byte_stats_split_chars_from_bytes(spark, tmp_path):
    """A multi-byte corpus must report bytes > chars (the ASCII
    testdata can't distinguish utf8_length from binary_length)."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "héllo wörld", "de", "web", 11), (2, "plain ascii", "en", "web", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    from rdbms_metadata_manager_spark.llm.udfs import arrow_doc_byte_stats

    row = arrow_doc_byte_stats(spark, d).collect()[0]
    assert row.n_docs == 2
    assert row.sum_chars == 22
    assert row.sum_bytes == 24  # two 2-byte umlauts


def test_pyds_stream_sink_commits_per_microbatch(spark, tmp_path):
    """Every micro-batch must publish through its own commit: file
    names carry the batch id, no staged files survive, and the rows
    reproduce the tick function exactly."""
    import json
    import os

    from rdbms_metadata_manager_spark.sources.pyds import _tick, read_tick_stream
    from rdbms_metadata_manager_spark.sources.pyds_sink import JsonlStreamSink

    d = str(tmp_path / "out")
    os.makedirs(d)
    spark.dataSource.register(JsonlStreamSink)
    q = (
        read_tick_stream(spark, batch=64, limit=256)
        .writeStream.format("jsonl_stream_sink")
        .option("path", d)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = os.listdir(d)
    assert not [f for f in files if f.startswith("staged-")]
    batch_ids = {int(f.split("-")[1]) for f in files if f.startswith("tick-")}
    assert batch_ids == set(range(4)), batch_ids  # 256 rows / 64 per batch
    rows = []
    for f in files:
        if f.startswith("tick-"):
            with open(os.path.join(d, f)) as fh:
                rows += [json.loads(line) for line in fh]
    got = sorted((r["tick_id"], r["user_id"], r["kind"], r["amount"]) for r in rows)
    assert got == [_tick(i) for i in range(256)]


def test_pyds_sink_stray_staged_file_invisible_to_readers(spark, sf_dir, tmp_path):
    """A failed/speculative task's staged file (never renamed by
    commit) must not leak into a read: underscore-prefixed files are
    outside Spark's file index, so visibility is genuinely gated by
    the driver commit."""
    import shutil

    from rdbms_metadata_manager_spark.queries.base import load
    from rdbms_metadata_manager_spark.sources.pyds_sink import write_through_sink

    d = str(tmp_path / "sink")
    src = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    write_through_sink(src, d)
    n = src.count()
    # simulate a zombie task attempt: a staged (uncommitted) duplicate
    import os

    part = [f for f in os.listdir(d) if f.startswith("part-")][0]
    shutil.copy(os.path.join(d, part), os.path.join(d, "_staged-deadbeef.parquet"))
    assert spark.read.parquet(d).count() == n
