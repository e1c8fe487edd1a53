"""Differential tests: every registered query vs its DuckDB oracle
(SURVEY.md §5.2(3)) — a local replay of the driver's t2 gate."""

from __future__ import annotations

import pytest

from rdbms_metadata_manager_spark.registry import all_oracles, all_queries

from conftest import assert_matches_oracle

_QUERIES = all_queries()
_ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, _ORACLES[name], sf_dir)


def test_recursive_replay_deep_ragged_sequences_match_python_fold(spark):
    """The chunked recursion (modern._CHUNK steps per level) must
    replay a 100-step sequence (multiple levels, ragged tail) and a
    5-step one identically to a direct Python fold — guards the
    chunk-boundary state handoff at any chunk size."""
    import datetime

    from rdbms_metadata_manager_spark.queries import modern

    prices = {1: [123456.78 + 1017.0 * i for i in range(100)], 2: [99999.99] * 5}
    rows = [
        (ck, ck * 1000 + i, datetime.datetime(1995, 1, 1) + datetime.timedelta(days=i), p)
        for ck, ps in prices.items()
        for i, p in enumerate(ps)
    ]
    spark.createDataFrame(
        rows, "o_custkey long, o_orderkey long, o_orderdate timestamp, o_totalprice double"
    ).createOrReplaceTempView("orders")
    try:
        got = {
            r.o_custkey: (r.n_orders, r.final_balance_cents, r.n_redemptions)
            for r in spark.sql(modern._RECURSIVE_SPARK_SQL).collect()
        }
    finally:
        spark.catalog.dropTempView("orders")

    import math

    for ck, ps in prices.items():
        bal, red = 0, 0
        for p in ps:
            c = math.floor(p * 100 + 0.5)
            if bal + c >= modern._CAP_CENTS:
                bal, red = 0, red + 1
            else:
                bal += c
        assert got[ck] == (len(ps), bal, red), ck
