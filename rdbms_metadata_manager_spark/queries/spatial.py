"""Spatial neighbor join via grid bucketing — the equi-join shape a
distance join must take at scale.

[beyond-reference] a naive radius join is a cross join with a
distance predicate: Spark (and every MPP engine) executes that as
BroadcastNestedLoopJoin — O(n²) and a guaranteed casualty at 100 TB.
The scalable form is the standard grid trick:

1. bucket every point into a square cell whose side equals the
   search radius R;
2. explode each PROBE point into its 3×3 neighboring cells (constant
   ×9 fanout — the build side is NOT exploded, so shuffle volume is
   9× probe + 1× build, not n²);
3. equi-join on the cell id (hash shuffle — Catalyst picks
   SortMergeJoin/broadcast like any other key join);
4. verify the exact distance predicate on the survivors.

Every candidate pair meets in exactly one cell (the build point's own
cell), so no dedup pass is needed. All arithmetic is integer
(micro-unit coordinates, squared-distance compare) — exact
cross-engine. Coordinates are derived deterministically from
``c_custkey`` via the repo's md5-based h32 (`llm/hashing.py`), the
same construction both engines compute bit-identically.

Output: global pair/point counts plus the top-10 densest points —
small and stable regardless of SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.hashing import h32, h32_sql
from .base import load

PLANE = 1_000_000  # micro-unit extent of the square plane
RADIUS = 25_000  # search radius (= grid cell side)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey")
    return c.select(
        F.col("c_custkey").alias("pid"),
        F.pmod(h32(F.concat(F.lit("x"), F.col("c_custkey"))), F.lit(PLANE)).alias("x"),
        F.pmod(h32(F.concat(F.lit("y"), F.col("c_custkey"))), F.lit(PLANE)).alias("y"),
    )


def spatial_neighbor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _points(spark, sf_dir).withColumn("cx", F.expr(f"x div {RADIUS}")).withColumn(
        "cy", F.expr(f"y div {RADIUS}")
    )
    offsets = spark.range(-1, 2).select(F.col("id").alias("dx")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dy"))
    )
    probe = p.crossJoin(F.broadcast(offsets)).select(
        F.col("pid").alias("a_pid"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("cx") + F.col("dx")).alias("jx"),
        (F.col("cy") + F.col("dy")).alias("jy"),
    )
    build = p.select(
        F.col("pid").alias("b_pid"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    pairs = (
        probe.join(build, ["jx", "jy"])
        .filter(F.col("a_pid") != F.col("b_pid"))
        .filter(
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            <= F.lit(RADIUS * RADIUS)
        )
        .select("a_pid", "b_pid")
    )
    per_point = pairs.groupBy("a_pid").agg(F.count("*").alias("n_neighbors"))
    top = (
        per_point.orderBy(F.col("n_neighbors").desc(), "a_pid")
        .limit(10)
        .select(
            F.lit("top_point").alias("kind"),
            F.col("a_pid").alias("pid"),
            F.col("n_neighbors").alias("n"),
        )
    )
    totals = pairs.agg((F.count("*") / 2).cast("bigint").alias("n_pairs")).select(
        F.lit("total").alias("kind"), F.lit(-1).cast("bigint").alias("pid"), F.col("n_pairs").alias("n")
    )
    return totals.unionByName(top).orderBy("kind", F.col("n").desc(), "pid")


def _spatial_sql() -> str:
    hx = h32_sql("'x' || c_custkey")
    hy = h32_sql("'y' || c_custkey")
    return f"""
WITH p AS (
  SELECT c_custkey AS pid,
         {hx} % {PLANE} AS x,
         {hy} % {PLANE} AS y
  FROM customer
),
-- same grid bucketing as the Spark plan (a naive n² distance join
-- would make the oracle itself infeasible at larger SF)
cells AS (SELECT pid, x, y, x // {RADIUS} AS cx, y // {RADIUS} AS cy FROM p),
offs AS (SELECT dx, dy FROM (VALUES (-1), (0), (1)) o1(dx), (VALUES (-1), (0), (1)) o2(dy)),
probe AS (
  SELECT pid AS a_pid, x AS ax, y AS ay, cx + dx AS jx, cy + dy AS jy
  FROM cells, offs
),
pairs AS (
  SELECT a_pid, b.pid AS b_pid
  FROM probe a JOIN cells b ON a.jx = b.cx AND a.jy = b.cy
  WHERE a_pid <> b.pid
    AND (ax - b.x) * (ax - b.x) + (ay - b.y) * (ay - b.y) <= {RADIUS * RADIUS}
),
per_point AS (SELECT a_pid, count(*) AS n_neighbors FROM pairs GROUP BY 1),
top AS (
  SELECT 'top_point' AS kind, a_pid AS pid, n_neighbors AS n
  FROM per_point ORDER BY n_neighbors DESC, a_pid LIMIT 10
),
totals AS (
  SELECT 'total' AS kind, CAST(-1 AS BIGINT) AS pid,
         CAST(count(*) / 2 AS BIGINT) AS n
  FROM pairs
)
SELECT kind, pid, n FROM (SELECT * FROM totals UNION ALL SELECT * FROM top)
ORDER BY kind, n DESC, pid
"""


QUERIES = ((spatial_neighbor_stats, _spatial_sql()),)
