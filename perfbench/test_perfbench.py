"""Self-tests of the benchmark's own pieces.

    python3 -m pytest perfbench -q                         # fast checks
    python3 -m pytest perfbench -q -m "slow or not slow"   # plus the smoke run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import latency  # noqa: E402
import synth_catalog  # noqa: E402
import synth_corpus  # noqa: E402
import workloads  # noqa: E402
from oracle import result_hash  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def test_catalog_is_deterministic_per_seed():
    a, b = synth_catalog.generate(7, 30), synth_catalog.generate(7, 30)
    assert (a.ddl, a.columns, a.indexes, a.fks) == (b.ddl, b.columns, b.indexes, b.fks)


def test_catalog_differs_across_seeds_but_keeps_its_size():
    a, b = synth_catalog.generate(1, 30), synth_catalog.generate(2, 30)
    assert a.ddl != b.ddl
    assert len(a.columns) == len(b.columns) == 30 * synth_catalog.COLUMNS_PER_TABLE


def test_catalog_has_composite_keys_and_every_rule_trigger():
    cat = synth_catalog.generate(3, 200)
    assert any(len(fk[3]) == 2 for fk in cat.fks)
    names = {c[2] for c in cat.columns}
    assert {"email", "price", "rating", "created_at", "idempotency_key"} <= names
    # each table carries exactly one primary-key index
    pk_tables = {i[1] for i in cat.indexes if i[2].endswith("_pkey")}
    assert len(pk_tables) == 200


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = synth_corpus.tables(5), synth_corpus.tables(5), synth_corpus.tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_oracle_hash_ignores_row_order_and_numeric_representation():
    cols = ["b", "a"]
    rows = [(1, "x"), (2.5, None), (Decimal("3.10"), "z")]
    same = [(Decimal("2.50"), None), (3.1, "z"), (1.0, "x")]
    assert result_hash(cols, rows) == result_hash(cols, same)
    # columns are aligned by name
    assert result_hash(["a", "b"], [(r[1], r[0]) for r in rows]) == result_hash(cols, rows)


def test_oracle_hash_detects_changes_and_is_stable():
    cols, rows = ["k", "v"], [(1, 0.1234564), ("a", [1, 2])]
    assert result_hash(cols, rows) != result_hash(cols, [(1, 0.123457), ("a", [1, 2])])
    assert result_hash(cols, rows) != result_hash(cols, rows[:1])
    # pinned: the digest must not change between processes or releases
    assert result_hash(cols, rows) == result_hash(cols, list(reversed(rows)))
    assert result_hash(["x"], [(1,), (2,)]) == (
        "1ff4fa224c57edc375403a8c0a7a2c1970b4150888e52e3158ca82df3a2bd58d"
    )


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # 1..40, shuffled order must not matter
    value, pct = latency.tail(list(reversed(samples)))
    assert (value, pct) == (30.0, 75.0)
    assert sum(s > value for s in samples) == latency.TAIL_BEYOND
    # with 11 samples only the minimum has ten beyond it
    assert latency.tail([float(i) for i in range(11)]) == (0.0, 100.0 / 11)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        latency.tail([1.0] * 10)


def test_window_is_whole_cycles_sized_by_the_arguments_only():
    import run

    # the floor: never fewer than MIN_OPS ops, rounded up to whole cycles
    assert run.window_cycles(0, 2.0, 8) == 3
    assert run.window_cycles(0, 0.6, 1) == run.MIN_OPS
    # above the floor, --seconds at the nominal rate, rounded up
    assert run.window_cycles(16, 2.0, 8) == 4
    assert run.window_cycles(17, 2.0, 8) == 5


def test_benchmark_json_names_what_the_harness_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


@pytest.mark.slow
def test_smoke_runs_every_workload():
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=root, capture_output=True, text=True, timeout=1800,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-3000:]
    assert out.stdout.count(": ok") == len(workloads.WORKLOADS)
