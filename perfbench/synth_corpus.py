"""Seeded synthetic analytics corpus for the analytics workloads.

Writes the ten parquet tables the query registry reads (TPC-H-style
star schema, an ``events`` stream, ``documents`` with planted near
duplicates and clustered unit ``embeddings``) with the same column
names and physical types as the repository's test corpora. Row counts
are fixed by ``ROWS``; the seed only changes the values, so every seed
gives the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 1000,
    "embeddings": 1000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "nut", "pipe", "valve", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
N_SOURCES = 20

_DAY_US = 86_400_000_000


def _days_us(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus marker tokens
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            length = int(rng.integers(8, 96))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), length)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centroids[labels] + rng.normal(scale=2.0, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """Every table of the corpus for ``seed``, as Arrow tables."""
    rng = np.random.default_rng([seed, 0xC0])
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, c).tolist(), pa.string()),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), pa.float64()),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))], pa.string()
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, p).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10.0, 1), pa.float64()),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o), pa.float64()),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", o)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, o).tolist(), pa.string()),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 104999.99, li), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], li).tolist(), pa.string()),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", li)),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(1, e * 3 // 200), e), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, e).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, e), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(seed: int, out_dir: str) -> str:
    """Write the corpus for ``seed`` under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir
