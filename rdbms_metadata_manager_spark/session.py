"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (one JVM); the same
configs are what we would set cluster-side:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion — the main lever that makes one
  logical plan survive a 100x scale-up without re-tuning.
- shuffle.partitions sized to cores locally; on a real cluster this is
  superseded by AQE's coalescing from the 3x-cores initial value.
- Arrow on: every Pandas-UDF boundary is Arrow-batched.
- Driver heap: ``$SPARK_DRIVER_MEM`` if set, else 48g capped at half
  the box's RAM, so a small box is not pushed into the OOM killer.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

MEMINFO = "/proc/meminfo"
_UNIT_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _mem_total_mib() -> int | None:
    """Physical RAM in MiB from ``MEMINFO``, or None where it is absent."""
    try:
        with open(MEMINFO) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024  # reported in kB
    except OSError:
        pass
    return None


def driver_memory() -> str:
    """The ``spark.driver.memory`` value: ``$SPARK_DRIVER_MEM`` as
    given, else 48g capped at half of physical RAM. An explicit value
    that is malformed or larger than physical RAM raises, naming the
    variable."""
    total = _mem_total_mib()
    explicit = os.environ.get("SPARK_DRIVER_MEM")
    if explicit is None:
        if total is None or total // 2 >= 48 * 1024:
            return "48g"
        return f"{total // 2}m"
    m = re.fullmatch(r"(\d+)(?:([kmgt])b?)?", explicit.strip().lower())
    if m is None:
        raise ValueError(
            f"SPARK_DRIVER_MEM={explicit!r} is not a JVM memory size like 2g or 512m"
        )
    mib = int(m.group(1)) * _UNIT_MIB[m.group(2) or "m"]
    if total is not None and mib > total:
        raise ValueError(
            f"SPARK_DRIVER_MEM={explicit!r} exceeds this machine's {total} MiB "
            f"of physical memory ({MEMINFO} MemTotal)"
        )
    return explicit


def spark_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS``, default 32. A value
    that is not a positive integer raises, naming the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer core count")
    return cpus


def get_spark(app_name: str = "rdbms-metadata-manager-spark") -> SparkSession:
    cpus = spark_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
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
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
