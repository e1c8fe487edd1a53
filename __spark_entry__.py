"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle (see
rdbms_metadata_manager_spark/registry.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rdbms_metadata_manager_spark.registry import all_oracles, all_queries  # noqa: E402


def _ensure_confs(spark: SparkSession) -> SparkSession:
    # The driver may hand us a session it built itself; events.parquet
    # needs nanosAsLong and the engine expects UTC + AQE.
    for k, v in [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # The driver's session does not enable Arrow; the engine's
        # createDataFrame(pandas) paths assume it (and it's 10-100x
        # faster for local relations anyway).  Set it here so no query
        # depends on who built the session (VERDICT r2 item 1b).
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # Correctness-neutral but plan-shaping (all runtime-settable):
        # without them a stock session (200 shuffle partitions, 10 MB
        # broadcast cap) runs the same queries with slower plans.
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        ("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32")),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q3-shape join+agg+topk at sf0.001."""
    spark = _ensure_confs(spark)
    from rdbms_metadata_manager_spark.queries.relational import q3_shipping_priority

    return q3_shipping_priority(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = all_queries()
    return {name: (lambda s, d, _fn=fn: _fn(_ensure_confs(s), d)) for name, fn in qs.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted entries get
    the driver's weaker rows-only check)."""
    return all_oracles()
