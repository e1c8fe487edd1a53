"""Feature engineering over ``orders``: scaling and winsorization.

[beyond-reference] the feature-prep surface of a training pipeline
(the reference computes nothing from data values at all —
SURVEY.md §1.2). One exact-statistics pass, then pure per-row
arithmetic:

- min-max scaling to [0, 1];
- robust scaling (subtract median, divide by IQR) — the scaler of
  choice under heavy tails because order statistics ignore outliers;
- winsorization (clip to [p01, p99]) — the standard tail-taming
  transform before a mean-sensitive model sees the column.

Cross-engine exactness: every statistic is an order statistic
(min/max/percentile_disc return ACTUAL data values, no interpolation
— see profiling.py), so the per-row arithmetic is IEEE-double on
identical inputs: bit-identical results, no rounding contract.

Scale: the stats aggregate collapses map-side to one row, broadcast
back over the scan (BroadcastNestedLoopJoin on a 1-row build is
constant work); the projection is whole-stage codegen. Two scans of
orders (stats + project) — at 100 TB you persist the 1-row stats
instead; the shape is otherwise scan-speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import load


def feature_scale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").alias("med"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").alias("q3"),
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY o_totalprice)").alias("p01"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)").alias("p99"),
    )
    x = F.col("o_totalprice")
    return (
        orders.join(F.broadcast(stats))
        .select(
            "o_orderkey",
            x.alias("o_totalprice"),
            ((x - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias("minmax_scaled"),
            ((x - F.col("med")) / (F.col("q3") - F.col("q1"))).alias("robust_scaled"),
            F.least(F.greatest(x, F.col("p01")), F.col("p99")).alias("winsorized"),
        )
        .orderBy("o_orderkey")
    )


_FEATURE_SQL = """
WITH stats AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
         quantile_disc(o_totalprice, 0.5) AS med,
         quantile_disc(o_totalprice, 0.25) AS q1,
         quantile_disc(o_totalprice, 0.75) AS q3,
         quantile_disc(o_totalprice, 0.01) AS p01,
         quantile_disc(o_totalprice, 0.99) AS p99
  FROM orders
)
SELECT o_orderkey, o_totalprice,
       (o_totalprice - lo) / (hi - lo) AS minmax_scaled,
       (o_totalprice - med) / (q3 - q1) AS robust_scaled,
       least(greatest(o_totalprice, p01), p99) AS winsorized
FROM orders, stats
ORDER BY o_orderkey
"""


N_QBUCKETS = 10


def feature_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning of order value — the
    QuantileDiscretizer shape, done Spark-first: NOT ``ntile`` (a
    global sort through ONE partition — the anti-pattern at scale)
    but 9 exact cutpoints from one map-side-combining aggregate,
    broadcast back, with the bucket index computed per-row as
    1 + Σ (x > cut_i). At 100 TB the only change is swapping
    ``percentile_disc`` for ``approx_percentile`` — the plan shape
    (tiny agg → broadcast → codegen projection → rollup) is already
    the scalable one. Output is the per-bucket audit (count + value
    range): equal-ish counts verify the equi-depth property; ties at
    cut values go left, identically in both engines (integer
    comparison semantics on the same doubles)."""
    orders = load(spark, sf_dir, "orders")
    # fractions as i/N (not a '0.{i}' string template, which is only
    # correct while N_QBUCKETS == 10); repr of i/N is exact enough —
    # both engines parse the same decimal literal text
    cuts = orders.agg(
        *[
            F.expr(
                f"percentile_disc({i / N_QBUCKETS}) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias(f"c{i}")
            for i in range(1, N_QBUCKETS)
        ]
    )
    x = F.col("o_totalprice")
    bucket = sum(
        ((x > F.col(f"c{i}")).cast("int") for i in range(1, N_QBUCKETS)), F.lit(1)
    )
    return (
        orders.join(F.broadcast(cuts))
        .select(bucket.alias("bucket"), x.alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("bucket")
    )


_QBUCKET_SQL = f"""
WITH cuts AS (
  SELECT {", ".join(f"quantile_disc(o_totalprice, {i / N_QBUCKETS}) AS c{i}" for i in range(1, N_QBUCKETS))}
  FROM orders
),
x AS (
  SELECT 1 + {" + ".join(f"(o_totalprice > c{i})::INT" for i in range(1, N_QBUCKETS))} AS bucket,
         o_totalprice AS v
  FROM orders, cuts
)
SELECT bucket, count(*)::BIGINT AS n_orders, min(v) AS lo, max(v) AS hi
FROM x GROUP BY bucket ORDER BY bucket
"""


QUERIES = (
    (feature_scale_orders, _FEATURE_SQL),
    (feature_quantile_buckets, _QBUCKET_SQL),
)
