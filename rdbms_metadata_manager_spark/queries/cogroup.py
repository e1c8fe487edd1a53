"""Cogrouped-map operators: two relations aligned per key inside one
Arrow kernel (``groupBy().cogroup().applyInPandas``) — the Spark face
for per-key algorithms that need BOTH sides materialized together
(sorted-merge statistics, per-key reconciliation, two-sample tests)
and that a join would force into an awkward blow-up-then-re-aggregate
shape. [beyond-reference] surface (SURVEY.md §2.2 UDF family;
complements the grouped-map `shard_packing_nextfit` and the
mapInPandas/mapInArrow kernels).

Exemplar: a per-nation two-sample Kolmogorov–Smirnov drift test
between the CUSTOMER and SUPPLIER account-balance distributions —
the "did this segment's distribution shift between two populations /
snapshots" check a data-quality pipeline runs per partition key.

Determinism / oracle exactness: balances are floor-tick integer
cents; the KS statistic D = max_x |F_c(x) − F_s(x)| is carried as an
exact integer RATIONAL (ks_num = max |i·n_s − j·n_c|, ks_den =
n_c·n_s) so no float ever crosses an engine boundary. The DuckDB
oracle reproduces the same rational via peer-inclusive RANGE-frame
running counts.

Scale: cogroup shuffles each side ONCE on the key (two map-side
projections, one exchange each), then the kernel is O(n log n) numpy
per group with a 1-row output — shuffle payload is (key, cents)
pairs only. Skew bound = the largest single key's rows must fit one
task (same contract as any grouped-map); for national-scale keys
that's rows/25, and a hotter key would be pre-split by sub-sampling
each side before the test.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import tables

_KS_SCHEMA = (
    "nationkey long, n_cust long, n_supp long, "
    "ks_num long, ks_den long, ks_per_mille long"
)


def _ks_kernel(key: Iterable, cust: pd.DataFrame, supp: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    n_c, n_s = len(cust), len(supp)
    if n_c == 0 or n_s == 0:
        # One-sided keys have no defined two-sample statistic; the
        # oracle filters them identically.
        return pd.DataFrame(
            columns=["nationkey", "n_cust", "n_supp", "ks_num", "ks_den", "ks_per_mille"]
        )
    a = np.sort(cust["bal"].to_numpy(dtype=np.int64))
    b = np.sort(supp["bal"].to_numpy(dtype=np.int64))
    xs = np.unique(np.concatenate([a, b]))
    # counts <= x on each side (peer-inclusive ECDF numerators)
    fa = np.searchsorted(a, xs, side="right").astype(np.int64)
    fb = np.searchsorted(b, xs, side="right").astype(np.int64)
    ks_num = int(np.abs(fa * n_s - fb * n_c).max())
    ks_den = n_c * n_s
    return pd.DataFrame(
        {
            "nationkey": [int(key[0])],
            "n_cust": [n_c],
            "n_supp": [n_s],
            "ks_num": [ks_num],
            "ks_den": [ks_den],
            "ks_per_mille": [1000 * ks_num // ks_den],
        }
    )


def cogroup_balance_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation exact two-sample KS distance between customer and
    supplier account balances, as an integer rational (see module
    docstring)."""
    customer, supplier = tables(spark, sf_dir, "customer", "supplier")
    cust = customer.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    supp = supplier.select(
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.floor(F.col("s_acctbal") * 100).cast("long").alias("bal"),
    )
    return (
        cust.groupBy("nationkey")
        .cogroup(supp.groupBy("nationkey"))
        .applyInPandas(_ks_kernel, _KS_SCHEMA)
        .orderBy("nationkey")
    )


_COGROUP_KS_SQL = """
WITH c AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
),
s AS (
  SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
         CAST(floor(s_acctbal * 100) AS BIGINT) AS bal
  FROM supplier
),
u AS (
  SELECT nationkey, bal, 1 AS ic, 0 AS isup FROM c
  UNION ALL
  SELECT nationkey, bal, 0 AS ic, 1 AS isup FROM s
),
r AS (
  SELECT nationkey, bal,
         CAST(sum(ic)  OVER w AS BIGINT) AS fa,
         CAST(sum(isup) OVER w AS BIGINT) AS fb
  FROM u
  WINDOW w AS (PARTITION BY nationkey ORDER BY bal
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
n AS (
  SELECT nationkey,
         CAST(sum(ic) AS BIGINT) AS n_cust,
         CAST(sum(isup) AS BIGINT) AS n_supp
  FROM u GROUP BY nationkey
),
d AS (
  SELECT r.nationkey, max(abs(r.fa * n.n_supp - r.fb * n.n_cust)) AS ks_num
  FROM r JOIN n USING (nationkey)
  GROUP BY r.nationkey
)
SELECT n.nationkey, n.n_cust, n.n_supp,
       d.ks_num,
       n.n_cust * n.n_supp AS ks_den,
       ((1000 * d.ks_num) // (n.n_cust * n.n_supp))::BIGINT AS ks_per_mille
FROM n JOIN d USING (nationkey)
WHERE n.n_cust > 0 AND n.n_supp > 0
ORDER BY n.nationkey
"""


QUERIES = ((cogroup_balance_ks, _COGROUP_KS_SQL),)
