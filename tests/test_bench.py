"""The bench harness: the stdout line the driver parses, and one
ledger record."""

from __future__ import annotations

import json
import os

import bench

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_compact_line_fits_the_tail_with_the_drivers_keys():
    timings = {name: round(0.05 + 0.0137 * i, 3) for i, name in enumerate(bench.HEADLINE)}
    full = {
        "metric": "headline_query_sec_total_steady_state_min",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": "/root/testdata/sf0.1",
        "cpus": 4,
        "driver_memory": "8g",
        "ledger": {},
    }
    line = bench.compact_line(full)
    assert len(line.encode()) <= 1900
    parsed = json.loads(line)
    with open(os.path.join(_REPO, "BENCH_r10.json")) as fh:
        assert set(parsed) == set(json.load(fh)["parsed"])
    assert parsed["n_queries"] == 218
    kept = list(parsed["queries"])
    assert kept and kept == sorted(timings, key=timings.get, reverse=True)[: len(kept)]


def test_time_queries_records_cold_run_samples_and_jobs(spark, sf_dir):
    rec = bench.time_queries(spark, sf_dir, ["q1_pricing_summary"])["q1_pricing_summary"]
    assert rec["jobs"] >= 1 and rec["stages"] >= rec["jobs"]
    assert len(rec["samples"]) >= 2
    assert rec["build_s"] <= min(rec["samples"])
    assert rec["cold_s"] > 0
    assert 0 <= rec["steal"] <= 1
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
