"""Order-insensitive result hashes for oracle checks.

Follows the comparison conventions of the test suite's
``assert_matches_oracle``: columns are aligned by sorted name, floats
round to 6 decimals, NaN compares as ``"nan"``, temporal values by
ISO text, and rows are compared as a sorted multiset. One addition
makes the comparison a hash: numbers compare by value, so an
``int``, a ``float`` and a ``Decimal`` that are equal after rounding
hash the same, as they compare equal in the test suite.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else round(f, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        (tuple(_canon(row[i]) for i in order) for row in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def duckdb_connection(corpus_dir: str):
    """DuckDB with one view per corpus table, as the oracles expect."""
    import duckdb

    con = duckdb.connect(config={"threads": "4"})
    for t in TABLES:
        path = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def duckdb_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    return result_hash([d[0] for d in cur.description], cur.fetchall())
