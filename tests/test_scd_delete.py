"""Invariants for SCD2 interval building and heavy-hitter skew
diagnosis."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.queries.base import load
from rdbms_metadata_manager_spark.queries.scd import scd2_user_state_intervals
from rdbms_metadata_manager_spark.queries.skew import HEAVY_K, heavy_hitter_users


def test_scd2_intervals_tile_each_user_timeline(spark, sf_dir):
    """Intervals are disjoint, adjacent (each valid_to == next
    valid_from), exactly one open interval per user, and event counts
    conserve the user's total."""
    events = load(spark, sf_dir, "events")
    totals = {r.user_id: r.n for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    by_user = {}
    for r in scd2_user_state_intervals(spark, sf_dir).collect():
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(totals)
    for uid, rows in by_user.items():
        assert sum(r.n_events for r in rows) == totals[uid]
        assert sum(1 for r in rows if r.valid_to is None) == 1
        assert rows[-1].valid_to is None  # sorted by valid_from
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from
            assert a.event_type != b.event_type  # runs are maximal


def test_heavy_hitter_shares(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    total = events.count()
    rows = heavy_hitter_users(spark, sf_dir).collect()
    assert len(rows) == min(HEAVY_K, events.select("user_id").distinct().count())
    assert all(rows[i].n_events >= rows[i + 1].n_events for i in range(len(rows) - 1))
    for r in rows:
        assert r.row_share == r.n_events / total


def test_scd2_snapshots_count_exactly_onboarded_users(spark, sf_dir):
    """At each snapshot, every user whose first event is <= the
    snapshot is in EXACTLY one state: per-snapshot totals must equal
    the onboarded-user count."""
    import collections

    from rdbms_metadata_manager_spark.queries.scd import scd2_state_snapshots

    snaps = scd2_state_snapshots(spark, sf_dir).collect()
    totals = collections.Counter()
    for r in snaps:
        totals[r.snap_ts] += r.n_users
    first_seen = {
        r.user_id: r.first_ts
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .collect()
    }
    for snap_ts, n in totals.items():
        assert n == sum(1 for t in first_seen.values() if t <= snap_ts), snap_ts


def test_snapshot_diff_classes_match_bucket_construction(spark, sf_dir):
    """The diff classes are closed-form from the bucket construction:
    added = buckets 90-99 (v2-only), removed = 0-9 (v1-only),
    changed = 40-49 (the +1.00 edit always changes cents), unchanged
    = the remaining shared buckets."""
    from rdbms_metadata_manager_spark.llm.hashing import h32
    from rdbms_metadata_manager_spark.queries.scd import snapshot_diff_orders

    got = {r.status: r.n_rows for r in snapshot_diff_orders(spark, sf_dir).collect()}
    bucket = h32(F.concat(F.lit("snap:"), F.col("o_orderkey").cast("string"))) % 100
    counts = {
        r.b: r.n
        for r in load(spark, sf_dir, "orders")
        .select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    def in_range(lo, hi):
        return sum(n for b, n in counts.items() if lo <= b < hi)

    assert got["added"] == in_range(90, 100)
    assert got["removed"] == in_range(0, 10)
    assert got["changed"] == in_range(40, 50)
    assert got["unchanged"] == in_range(10, 40) + in_range(50, 90)
