"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (one JVM); the same
configs are what we would set cluster-side:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion — the main lever that makes one
  logical plan survive a 100x scale-up without re-tuning.
- shuffle.partitions sized to cores locally; on a real cluster this is
  superseded by AQE's coalescing from the 3x-cores initial value.
- Arrow on: every Pandas-UDF boundary is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rdbms-metadata-manager-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64 MB broadcast threshold: executors on a modern cluster
        # hold tens of GB — broadcasting a 64 MB build side beats
        # shuffling a multi-TB probe side every time. Locally it lets
        # the inverted-index joins (1M × 16-byte rows) skip the
        # two-sided exchange.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Older testdata generations store events.ts as TIMESTAMP(NANOS),
        # which the Spark parquet reader rejects; this conf surfaces it
        # as a raw long for the loader to convert, and is a no-op on the
        # current TIMESTAMP(MICROS) encoding (queries/base.py detects both).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
