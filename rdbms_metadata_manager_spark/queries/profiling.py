"""Data-plane profiling + time-series resampling.

The reference audits *metadata* quality (app.py:41-105); these
operators extend the same mission to the *data* plane — the natural
next step for a schema-quality tool and table stakes for a training
-data pipeline:

- ``profile_orders_columns``: per-column null/distinct/min/max
  profile in ONE pass over the table (a single aggregate with
  map-side partials, then a 6-row ``stack`` unpivot — never one scan
  per column, which at 100 TB would be 6 scans too many).
- ``resample_events_hourly``: gap-filled hourly rollup (hypertable-
  style resample) — dense time spine via ``sequence``/``explode``,
  zero-filled counts for silent hours.
- ``outlier_orders_iqr``: Tukey-fence outlier detection over exact
  rank-based quantiles (``percentile_disc`` — actual data values, so
  the fence arithmetic is bit-identical across engines; interpolated
  quantiles would differ in the last ulp, see README "Correctness
  strategy").

Cross-engine repr note: double min/max are reported as
``floor(x * 10000)`` tick integers — double→string formatting
differs between engines, and rounding a double to N decimals is
rounding-mode-dependent at half-boundaries, but ``*`` and ``floor``
are IEEE-exact in both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .base import load

# (column, kind) — kind picks the cross-engine-stable min/max repr.
_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _repr_col(c: Column, kind: str) -> Column:
    if kind == "double":
        return F.floor(c * 10000).cast("string")
    if kind == "ts":
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return c.cast("string")


def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of ``orders``: rows, nulls, exact distinct,
    min/max, unpivoted wide→long by a driver-free ``stack``.

    Two aggregates, deliberately split by buffer mutability: counts,
    multi-countDistinct, and min/max of fixed-width types (long,
    double, timestamp-as-micros) all have mutable primitive buffers →
    one whole-stage-codegen'd HashAggregate over the Expand. min/max
    of VARCHAR columns have var-length buffers, which forces an
    *interpreted* SortAggregate — keeping them in the same aggregate
    would demote everything AND drag the Expand-multiplied stream
    (rows × n_cols+1) through the interpreted path (~3 s at sf0.1;
    split: <1 s). The string-side scan prunes to just the 2 varchar
    columns; both sides are one-row results, joined by a trivial
    cross."""
    orders = load(spark, sf_dir, "orders")
    hash_aggs = [F.count(F.lit(1)).alias("n_rows")]
    str_aggs = []
    for name, kind in _PROFILE_COLS:
        c = F.col(name)
        hash_aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls__{name}"),
            F.count_distinct(c).alias(f"nd__{name}"),
        ]
        reprs = [
            _repr_col(F.min(c), kind).alias(f"min__{name}"),
            _repr_col(F.max(c), kind).alias(f"max__{name}"),
        ]
        if kind == "str":
            str_aggs += reprs
        else:
            hash_aggs += reprs
    wide = orders.agg(*hash_aggs).crossJoin(orders.agg(*str_aggs))
    parts = ", ".join(
        f"'{name}', nulls__{name}, nd__{name}, min__{name}, max__{name}"
        for name, _ in _PROFILE_COLS
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {parts}) AS "
                "(column_name, n_nulls, n_distinct, min_repr, max_repr)"
            ),
            "n_rows",
        )
        .select("column_name", "n_rows", "n_nulls", "n_distinct", "min_repr", "max_repr")
        .orderBy("column_name")
    )


def _profile_branch_sql(name: str, kind: str) -> str:
    if kind == "double":
        mn = f"CAST(floor(min({name}) * 10000) AS BIGINT)::VARCHAR"
        mx = f"CAST(floor(max({name}) * 10000) AS BIGINT)::VARCHAR"
    elif kind == "ts":
        mn = f"strftime(min({name}), '%Y-%m-%d %H:%M:%S')"
        mx = f"strftime(max({name}), '%Y-%m-%d %H:%M:%S')"
    else:
        mn, mx = f"min({name})::VARCHAR", f"max({name})::VARCHAR"
    return (
        f"SELECT '{name}' AS column_name, count(*)::BIGINT AS n_rows, "
        f"(count(*) - count({name}))::BIGINT AS n_nulls, "
        f"count(DISTINCT {name})::BIGINT AS n_distinct, "
        f"{mn} AS min_repr, {mx} AS max_repr FROM orders"
    )


_PROFILE_SQL = (
    "\nUNION ALL\n".join(_profile_branch_sql(n, k) for n, k in _PROFILE_COLS)
    + "\nORDER BY column_name"
)


def resample_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup per event type. The dense hour spine
    comes from re-aggregating the (tiny) rolled-up result — one pass
    over the raw events, then `sequence`/`explode` on bounded
    per-type min/max. Silent hours surface as zero rows with
    ``is_gap`` — the thing a plain groupBy can never show you."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
        )
    )
    return (
        spine.join(counts, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
            (F.coalesce("n_events", F.lit(0)) == 0).alias("is_gap"),
        )
        .orderBy("event_type", "hour")
    )


_RESAMPLE_SQL = """
WITH c AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*)::BIGINT AS n_events,
         count(DISTINCT user_id)::BIGINT AS n_users
  FROM events GROUP BY 1, 2
),
b AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM c GROUP BY 1),
s AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b
)
SELECT s.event_type, s.hour,
       COALESCE(c.n_events, 0)::BIGINT AS n_events,
       COALESCE(c.n_users, 0)::BIGINT AS n_users,
       (COALESCE(c.n_events, 0) = 0) AS is_gap
FROM s LEFT JOIN c ON s.event_type = c.event_type AND s.hour = c.hour
ORDER BY 1, 2
"""


def outlier_customers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection: customers whose order count
    exceeds ``q3 + 1.5*IQR``. Quantiles are ``percentile_disc`` —
    actual data values (no interpolation), here exact integers — so
    the fence arithmetic is the same IEEE ops on the same bits in
    both engines and the `>` cut is deterministic. (Raw
    ``o_totalprice`` is uniform — fences never fire; per-customer
    activity is Poisson-ish with a real right tail.) At scale: one
    groupBy over the scan, a 2-value quantile agg on the (much
    smaller) per-customer rollup, broadcast back — no per-row sort."""
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    q = per_cust.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_orders)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_orders)").alias("q3"),
    )
    fenced = q.select(
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi_fence")
    )
    return (
        per_cust.join(F.broadcast(fenced))
        .where(F.col("n_orders") > F.col("hi_fence"))
        .select("o_custkey", "n_orders", "hi_fence")
        .orderBy("o_custkey")
    )


_OUTLIER_SQL = """
WITH c AS (
  SELECT o_custkey, count(*)::BIGINT AS n_orders FROM orders GROUP BY 1
),
q AS (
  SELECT quantile_disc(n_orders, 0.25) AS q1,
         quantile_disc(n_orders, 0.75) AS q3
  FROM c
),
f AS (SELECT CAST(q3 + 1.5 * (q3 - q1) AS DOUBLE) AS hi_fence FROM q)
SELECT o_custkey, n_orders, hi_fence
FROM c, f
WHERE n_orders > hi_fence
ORDER BY o_custkey
"""


N_BINS = 20


def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order value: bin edges come from a
    1-row min/max aggregate broadcast back over the scan — two
    passes, no sort, shuffle payload = N_BINS rows. The bin index is
    pure IEEE arithmetic (`sub/div/floor`) on identical inputs, so
    bucket boundaries agree with DuckDB bit-for-bit (a `round`-based
    binning would be rounding-mode-dependent; see README
    "Correctness strategy")."""
    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / N_BINS
    binned = orders.join(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width),
            F.lit(N_BINS - 1),
        ).alias("bin"),
        (F.col("lo") + width * F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width),
            F.lit(N_BINS - 1),
        )).alias("bin_lo"),
    )
    return (
        binned.groupBy("bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bin")
    )


_HISTOGRAM_SQL = f"""
WITH b AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
x AS (
  SELECT LEAST(floor((o_totalprice - lo) / ((hi - lo) / {N_BINS})),
               {N_BINS - 1})::BIGINT AS bin,
         lo, (hi - lo) / {N_BINS} AS w
  FROM orders, b
)
SELECT bin, lo + w * bin AS bin_lo, count(*)::BIGINT AS n_orders
FROM x GROUP BY bin, bin_lo, lo, w
ORDER BY bin
"""


def resample_events_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-filled (last-observation-carried-forward) hourly
    series: gap hours inherit the most recent real hour's count —
    the other standard gap policy next to zero-fill. One extra
    window over the already-dense spine (same partitioning as the
    spine build, so no additional shuffle of raw data)."""
    dense = resample_events_hourly(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    observed = F.when(~F.col("is_gap"), F.col("n_events"))
    return (
        dense.select(
            "event_type",
            "hour",
            "n_events",
            "is_gap",
            F.last(observed, ignorenulls=True).over(w).alias("n_events_locf"),
        )
        .orderBy("event_type", "hour")
    )


_RESAMPLE_LOCF_SQL = f"""
WITH dense AS ({_RESAMPLE_SQL.replace("ORDER BY 1, 2", "")})
SELECT event_type, hour, n_events, is_gap,
       last_value(CASE WHEN NOT is_gap THEN n_events END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS n_events_locf
FROM dense
ORDER BY event_type, hour
"""


def resample_events_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly interpolated hourly series — the third standard gap
    policy next to zero-fill and LOCF: a gap hour gets the straight
    line between the nearest real observations on each side.

    Two windows over the dense spine (backward LOCF for the previous
    real point, forward for the next), same (event_type, hour)
    partitioning as the spine build — no extra shuffle of raw data.
    The spine's endpoints are real observations by construction
    (min/max hour come from observed counts), so every gap has both
    neighbors and the division is never null/zero. The interpolation
    fraction uses integer hour deltas (`div 3600` on unix seconds /
    `date_diff('hour')`), so both engines divide the same exact
    integers — bit-identical IEEE doubles, no float-aggregate trap."""
    dense = resample_events_hourly(spark, sf_dir)
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_v = F.when(~F.col("is_gap"), F.col("n_events"))
    obs_h = F.when(~F.col("is_gap"), F.col("hour"))
    x = dense.select(
        "event_type",
        "hour",
        "n_events",
        "is_gap",
        F.last(obs_v, ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wb).alias("ph"),
        F.first(obs_v, ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wf).alias("nh"),
    )
    dt = F.expr("(unix_timestamp(hour) - unix_timestamp(ph)) div 3600")
    total = F.expr("(unix_timestamp(nh) - unix_timestamp(ph)) div 3600")
    interp = F.when(
        F.col("is_gap"),
        F.col("pv") + ((F.col("nv") - F.col("pv")) * dt) / total,
    ).otherwise(F.col("n_events").cast("double"))
    return (
        x.select("event_type", "hour", "n_events", "is_gap", interp.alias("n_interp"))
        .orderBy("event_type", "hour")
    )


_RESAMPLE_INTERP_SQL = f"""
WITH dense AS ({_RESAMPLE_SQL.replace("ORDER BY 1, 2", "")}),
x AS (
  SELECT event_type, hour, n_events, is_gap,
         last_value(CASE WHEN NOT is_gap THEN n_events END IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN NOT is_gap THEN hour END IGNORE NULLS) OVER wb AS ph,
         first_value(CASE WHEN NOT is_gap THEN n_events END IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN NOT is_gap THEN hour END IGNORE NULLS) OVER wf AS nh
  FROM dense
  WINDOW wb AS (PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour, n_events, is_gap,
       CASE WHEN is_gap
            THEN pv + ((nv - pv) * date_diff('hour', ph, hour)) * 1.0
                      / date_diff('hour', ph, nh)
            ELSE n_events * 1.0 END AS n_interp
FROM x
ORDER BY event_type, hour
"""


MAD_K = 3  # flag hours deviating more than K×MAD from the median


def mad_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type (median, MAD) of the gap-filled hourly series — the
    offline 'baseline model' both the batch and streaming anomaly
    faces score against. ``percentile_disc`` keeps it exact."""
    dense = resample_events_hourly(spark, sf_dir)
    med = dense.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events)").alias("med")
    )
    with_med = dense.join(F.broadcast(med), "event_type")
    return with_med.groupBy("event_type", "med").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(n_events - med))"
        ).alias("mad")
    )


def anomaly_event_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust time-series anomaly detection: hours whose event count
    deviates more than 3×MAD (median absolute deviation) from the
    per-type median of the gap-filled hourly series. Median/MAD use
    ``percentile_disc`` — exact data values over integer counts, so
    the threshold arithmetic is engine-identical (mean/stddev would
    hit the float-aggregate trap AND be dragged by the very outliers
    we're hunting). Scale: two tiny quantile aggs over the rolled-up
    spine (time-range-bound rows), broadcast back — the raw events
    are scanned once, by the resample."""
    dense = resample_events_hourly(spark, sf_dir)
    return (
        dense.join(F.broadcast(mad_thresholds(spark, sf_dir)), "event_type")
        .where(F.abs(F.col("n_events") - F.col("med")) > MAD_K * F.col("mad"))
        .select("event_type", "hour", "n_events", "med", "mad")
        .orderBy("event_type", "hour")
    )


_ANOMALY_SQL = f"""
WITH dense AS ({_RESAMPLE_SQL.replace("ORDER BY 1, 2", "")}),
med AS (
  SELECT event_type, quantile_disc(n_events, 0.5)::DOUBLE AS med
  FROM dense GROUP BY 1
),
mad AS (
  SELECT d.event_type, quantile_disc(abs(d.n_events - m.med), 0.5)::DOUBLE AS mad
  FROM dense d JOIN med m USING (event_type) GROUP BY 1
)
SELECT d.event_type, d.hour, d.n_events, m.med, a.mad
FROM dense d JOIN med m USING (event_type) JOIN mad a USING (event_type)
WHERE abs(d.n_events - m.med) > {MAD_K} * a.mad
ORDER BY d.event_type, d.hour
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native relational UNPIVOT (wide measures → long) + per-measure
    rollup. Complements the stack()-based unpivot in
    ``profile_orders_columns`` with the dedicated ``DataFrame.unpivot``
    operator (SQL ``UNPIVOT`` in DuckDB). min/max restate stored
    doubles (order statistics); the sum is floor-tick integer.
    Scale: unpivot is a per-row generator (no shuffle); the 4x row
    blow-up collapses immediately into the 4-group partial aggregate."""
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count("*").alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.sum(F.expr("cast(floor(v * 10000 + 0.5) as bigint)")).alias("sum_ticks"),
        )
        .orderBy("measure")
    )


_UNPIVOT_SQL = """
SELECT measure, count(*) AS n,
       min(v) AS min_v, max(v) AS max_v,
       sum(CAST(floor(v * 10000 + 0.5) AS BIGINT))::BIGINT AS sum_ticks
FROM (UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME measure VALUE v)
GROUP BY measure
ORDER BY measure
"""


def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``DataFrame.observe`` (the
    Observation API): quality metrics computed AS the data flows
    through a real action, not by a second scan — at 100 TB the
    difference between "metrics are free" and "metrics double the
    bill". Here the filtered lineitem projection is written through
    the noop sink (standing in for the real downstream write) while
    three metrics ride along; the one-row result is rebuilt
    relationally for the oracle compare. Counts and integer cents
    only — observed aggregates run in arbitrary partition order, so
    float sums would be nondeterministic.

    Oracle = the same aggregates as a plain query: equality proves
    the observed path computes exactly what a dedicated scan would."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("price_cents"),
        F.count_if(F.col("l_discount") >= F.lit(0.05)).alias("n_discounted"),
    )
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    # sum() over zero observed rows yields None (SQL semantics) —
    # mirror the oracle's (0, NULL, 0) instead of crashing on int(None).
    price = None if m["price_cents"] is None else int(m["price_cents"])
    return spark.createDataFrame(
        [(int(m["n_rows"]), price, int(m["n_discounted"]))],
        "n_rows bigint, price_cents bigint, n_discounted bigint",
    )


_OBSERVED_SQL = """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       count(*) FILTER (l_discount >= 0.05) AS n_discounted
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
"""


def crosstab_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.stat.crosstab` — the contingency-table API face
    (pair frequencies pivoted to a wide table). Spark implements it
    as one pair-count aggregate + driver-side pivot over the distinct
    column-2 values, which is exactly its scale contract: fine while
    |distinct(col2)| is small (2 here), and the reason the oracle is
    a plain conditional-aggregation pivot. Output row order is
    undefined, so the face adds the orderBy the driver compare
    needs."""
    li = load(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.select(
        "l_returnflag_l_linestatus",
        *[F.col(c).cast("bigint").alias(c) for c in ct.columns[1:]],
    ).orderBy("l_returnflag_l_linestatus")


_CROSSTAB_SQL = """
SELECT l_returnflag AS l_returnflag_l_linestatus,
       count(*) FILTER (WHERE l_linestatus = 'F')::BIGINT AS "F",
       count(*) FILTER (WHERE l_linestatus = 'O')::BIGINT AS "O"
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# Candidate partition keys audited by the layout advisor, as
# (name, Spark column factory, DuckDB expression) triples.
_PART_CANDIDATES = (
    ("order_month", lambda: F.date_format("o_orderdate", "yyyy-MM"), "strftime(o_orderdate, '%Y-%m')"),
    ("order_year", lambda: F.year("o_orderdate").cast("long"), "year(o_orderdate)"),
    ("order_priority", lambda: F.col("o_orderpriority"), "o_orderpriority"),
    ("order_status", lambda: F.col("o_orderstatus"), "o_orderstatus"),
    ("cust_bucket_1k", lambda: F.pmod(F.col("o_custkey"), F.lit(1024)), "((o_custkey % 1024) + 1024) % 1024"),
)
PART_MIN_PARTS = 8
PART_MAX_PARTS = 10000
PART_MAX_SKEW_PERMILLE = 3000  # max partition ≤ 3× the average


def partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout advisor for the ``orders`` fact: for each
    candidate partition key, measure what `partitionBy(key)` would
    produce — partition count, min/avg/max rows, and integer
    per-mille skew — and recommend keys that land in the healthy
    band (enough partitions to prune, few enough to avoid the
    small-files explosion, max ≤ 3× average so no straggler task).
    This extends the reference's advisor DNA (index rules over
    catalog metadata, app.py:25-107) to the DATA plane: the same
    diagnose-and-recommend shape, computed from the table itself.

    Scale: one groupBy per candidate, each bounded by the candidate's
    key cardinality (the advisor's own health criterion caps it);
    candidates run as independent one-shuffle aggregates unioned at
    summary size. At 100 TB this is the audit you run BEFORE a
    repartition+write, on a sample or the full table — same plan."""
    orders = load(spark, sf_dir, "orders")
    reports = []
    for name, col, _ in _PART_CANDIDATES:
        classes = orders.groupBy(col().alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )
        reports.append(
            classes.agg(
                F.lit(name).alias("candidate"),
                F.count(F.lit(1)).alias("n_partitions"),
                F.sum("n").alias("total_rows"),
                F.min("n").alias("min_rows"),
                F.max("n").alias("max_rows"),
                F.expr("sum(n) div count(1)").alias("avg_rows"),
                F.expr("(max(n) * 1000) div (sum(n) div count(1))").alias(
                    "skew_permille"
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    healthy = (
        (F.col("n_partitions") >= PART_MIN_PARTS)
        & (F.col("n_partitions") <= PART_MAX_PARTS)
        & (F.col("skew_permille") <= PART_MAX_SKEW_PERMILLE)
    )
    return out.withColumn("recommended", healthy).orderBy("candidate")


def _part_advisor_oracle() -> str:
    legs = []
    for name, _, sql in _PART_CANDIDATES:
        legs.append(
            f"""SELECT '{name}' AS candidate,
       count(*)::BIGINT AS n_partitions,
       CAST(sum(n) AS BIGINT) AS total_rows,
       CAST(min(n) AS BIGINT) AS min_rows,
       CAST(max(n) AS BIGINT) AS max_rows,
       CAST(sum(n) // count(*) AS BIGINT) AS avg_rows,
       CAST((max(n) * 1000) // (sum(n) // count(*)) AS BIGINT) AS skew_permille
FROM (SELECT {sql} AS k, count(*) AS n FROM orders GROUP BY 1)"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
SELECT *,
       n_partitions >= {PART_MIN_PARTS} AND n_partitions <= {PART_MAX_PARTS}
       AND skew_permille <= {PART_MAX_SKEW_PERMILLE} AS recommended
FROM (
{union}
)
ORDER BY candidate
"""


# Join edges audited by the strategy advisor:
# (edge label, build table, probe table, probe-side key column)
_JOIN_EDGES = (
    ("customer_nation", "nation", "customer", "c_nationkey"),
    ("supplier_nation", "nation", "supplier", "s_nationkey"),
    ("orders_customer", "customer", "orders", "o_custkey"),
    ("lineitem_orders", "orders", "lineitem", "l_orderkey"),
    ("lineitem_part", "part", "lineitem", "l_partkey"),
)
BROADCAST_MAX_ROWS = 20000
SALT_SKEW_PERMILLE = 10000  # max per-key ≥ 10× the average → salt


def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisor over the schema's join edges — the third
    advisor face after the reference's index rules and
    [[partition_layout_advisor]]: for each edge, measure what the
    optimizer needs (build-side rows; probe-side key count, max and
    average rows per key, integer per-mille skew) and recommend
    broadcast (small build side), salted shuffle (skewed probe key),
    or plain shuffle. This is the statistics collection a CBO's
    ANALYZE performs, exposed as a first-class report — and the
    pre-flight check [[salted_join_revenue]]'s salting dial reads.

    Scale: per edge one count on the build side and one key-grouped
    aggregate on the probe side (map-side partial; the key-stats
    relation is bounded by key cardinality); edges union at summary
    size. At 100 TB this IS the ANALYZE job — run per edge,
    incrementally, or on samples; same plan."""
    legs = []
    for edge, build_t, probe_t, key in _JOIN_EDGES:
        build_n = load(spark, sf_dir, build_t).agg(
            F.count(F.lit(1)).alias("build_rows")
        )
        probe = (
            load(spark, sf_dir, probe_t)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.lit(edge).alias("edge"),
                F.count(F.lit(1)).alias("probe_keys"),
                F.sum("n").alias("probe_rows"),
                F.max("n").alias("max_per_key"),
                F.expr("sum(n) div count(1)").alias("avg_per_key"),
                F.expr("(max(n) * 1000) div (sum(n) div count(1))").alias(
                    "skew_permille"
                ),
            )
        )
        legs.append(probe.join(F.broadcast(build_n)))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    strategy = (
        F.when(F.col("build_rows") <= BROADCAST_MAX_ROWS, F.lit("broadcast"))
        .when(F.col("skew_permille") >= SALT_SKEW_PERMILLE, F.lit("salted_shuffle"))
        .otherwise(F.lit("shuffle"))
    )
    return out.select(
        "edge",
        "build_rows",
        "probe_keys",
        "probe_rows",
        "max_per_key",
        "avg_per_key",
        "skew_permille",
        strategy.alias("strategy"),
    ).orderBy("edge")


def _join_advisor_oracle() -> str:
    legs = []
    for edge, build_t, probe_t, key in _JOIN_EDGES:
        legs.append(
            f"""SELECT '{edge}' AS edge,
       (SELECT count(*) FROM {build_t})::BIGINT AS build_rows,
       count(*)::BIGINT AS probe_keys,
       CAST(sum(n) AS BIGINT) AS probe_rows,
       CAST(max(n) AS BIGINT) AS max_per_key,
       CAST(sum(n) // count(*) AS BIGINT) AS avg_per_key,
       CAST((max(n) * 1000) // (sum(n) // count(*)) AS BIGINT) AS skew_permille
FROM (SELECT {key} AS k, count(*) AS n FROM {probe_t} GROUP BY 1)"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
SELECT edge, build_rows, probe_keys, probe_rows, max_per_key, avg_per_key,
       skew_permille,
       CASE WHEN build_rows <= {BROADCAST_MAX_ROWS} THEN 'broadcast'
            WHEN skew_permille >= {SALT_SKEW_PERMILLE} THEN 'salted_shuffle'
            ELSE 'shuffle' END AS strategy
FROM (
{union}
)
ORDER BY edge
"""


ZORDER_BITS = 8  # 8 bits per dimension -> 16-bit Morton code, 256 buckets


def _morton_sql(a: str, b: str) -> str:
    """16-bit Morton interleave of two 8-bit ints — identical integer
    expression in Spark SQL and DuckDB (shifts, AND, OR)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def zorder_locality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER locality audit over orders(custkey, orderdate) — the
    quantified answer to "should this table be z-ordered or sorted on
    one key?" that [[partition_layout_advisor]] can't give for
    MULTI-column access patterns: bucket the table three ways (by the
    custkey byte, by the date byte, by the top byte of their 16-bit
    Morton interleave) and report, per layout, the average number of
    distinct custkey values and distinct days a bucket touches. A
    single-key sort gives perfect locality on its own key and none on
    the other; the z-order buckets bound BOTH — the file-skipping
    property Delta/Iceberg OPTIMIZE ZORDER buys, measured directly.

    Exactness: the Morton code is pure integer bit arithmetic,
    bit-identical cross-engine; the report is integer milli-averages.

    Scale: three bounded groupBys over (bucket, dim) projections of
    one scan — at 100 TB this is the sampling audit you run before
    rewriting a table's layout, same plan."""
    orders = load(spark, sf_dir, "orders")
    a = "CAST(o_custkey % 256 AS INT)"
    b = "CAST(datediff(o_orderdate, DATE '1992-01-01') % 256 AS INT)"
    base = orders.select(
        F.expr(a).alias("ka"),
        F.expr(b).alias("kb"),
    ).withColumn("z", F.expr(_morton_sql("ka", "kb") + f" >> {ZORDER_BITS}"))
    legs = []
    for layout, bucket in (("custkey_sort", "ka"), ("date_sort", "kb"), ("zorder", "z")):
        per_bucket = base.groupBy(F.col(bucket).alias("bkt")).agg(
            F.countDistinct("ka").alias("n_cust"),
            F.countDistinct("kb").alias("n_days"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        legs.append(
            per_bucket.agg(
                F.lit(layout).alias("layout"),
                F.count(F.lit(1)).alias("n_buckets"),
                F.expr("CAST((1000 * sum(n_cust)) DIV count(1) AS BIGINT)").alias(
                    "avg_custkeys_milli"
                ),
                F.expr("CAST((1000 * sum(n_days)) DIV count(1) AS BIGINT)").alias(
                    "avg_days_milli"
                ),
                F.sum("n_rows").alias("total_rows"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("layout")


def _zorder_oracle() -> str:
    a = "CAST(o_custkey % 256 AS INT)"
    b = "CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS INT)"
    legs = []
    for layout, bucket in (("custkey_sort", "ka"), ("date_sort", "kb"), ("zorder", "z")):
        legs.append(
            f"""SELECT '{layout}' AS layout,
       count(*)::BIGINT AS n_buckets,
       CAST((1000 * sum(n_cust)) // count(*) AS BIGINT) AS avg_custkeys_milli,
       CAST((1000 * sum(n_days)) // count(*) AS BIGINT) AS avg_days_milli,
       CAST(sum(n_rows) AS BIGINT) AS total_rows
FROM (
  SELECT {bucket} AS bkt, count(DISTINCT ka) AS n_cust,
         count(DISTINCT kb) AS n_days, count(*) AS n_rows
  FROM base GROUP BY 1
)"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH base AS (
  SELECT ka, kb, ({_morton_sql("ka", "kb")} >> {ZORDER_BITS}) AS z
  FROM (SELECT {a} AS ka, {b} AS kb FROM orders)
)
SELECT * FROM (
{union}
)
ORDER BY layout
"""



HILBERT_N = 256  # 8-bit grid per dimension, matching ZORDER_BITS
HILBERT_SEG_W = 341  # curve-segment bucket width; NOT 4^k-aligned on purpose


def _hilbert_stage_exprs(s: int) -> tuple[str, str, str]:
    """One xy2d iteration at scale ``s`` as (d, x, y) update
    expressions over columns named d/x/y — identical integer text in
    Spark SQL and DuckDB (&, shifts, CASE only; the bit XOR
    (3·rx)^ry is spelled 3·rx + ry − 2·rx·ry because the ^ operator
    is not dialect-shared). The rotation reflects with the full-grid
    constant N−1, the variant the bijectivity unit test pins."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    d_new = f"(d + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry}))"
    x_new = (
        f"(CASE WHEN {ry} = 0 THEN"
        f" (CASE WHEN {rx} = 1 THEN {HILBERT_N - 1} - y ELSE y END)"
        f" ELSE x END)"
    )
    y_new = (
        f"(CASE WHEN {ry} = 0 THEN"
        f" (CASE WHEN {rx} = 1 THEN {HILBERT_N - 1} - x ELSE x END)"
        f" ELSE y END)"
    )
    return d_new, x_new, y_new


def _hilbert_scales() -> list[int]:
    out, s = [], HILBERT_N // 2
    while s > 0:
        out.append(s)
        s //= 2
    return out


def hilbert_curve_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve locality audit over orders(custkey, orderdate) —
    the head-to-head [[zorder_locality_report]] cannot run alone:
    the same two 8-bit keys bucketed four ways (each single-key sort,
    and equal-width SEGMENTS of the Morton and Hilbert curve orders),
    same distinct-keys-per-bucket metrics. The segment width (341) is
    deliberately NOT 4^k-aligned: at power-of-4 widths both curves
    tile perfect squares and tie; real layout tooling cuts files at
    SIZE boundaries, not at curve-aligned ones, and there Hilbert's
    unit-step property (consecutive curve positions are L1-adjacent
    cells — the bijectivity test pins max step 1, where Morton jumps
    up to 255) keeps every segment one connected blob. Measured on
    the full 256×256 grid: hilbert touches ~45 distinct key values
    per segment vs morton's ~53.

    Exactness: the Hilbert index is the classic xy2d bit loop
    unrolled into 8 integer CASE stages, bit-identical cross-engine;
    the report is integer milli-averages.

    Scale: four bounded groupBys over one scan projection — the
    pre-rewrite audit shape, unchanged at 100 TB."""
    orders = load(spark, sf_dir, "orders")
    a = "CAST(o_custkey % 256 AS INT)"
    b = "CAST(datediff(o_orderdate, DATE '1992-01-01') % 256 AS INT)"
    base = (
        orders.select(F.expr(a).alias("ka"), F.expr(b).alias("kb"))
        .withColumn(
            "z", F.expr(_morton_sql("ka", "kb") + f" div {HILBERT_SEG_W}")
        )
        .withColumn("x", F.col("ka"))
        .withColumn("y", F.col("kb"))
        .withColumn("d", F.lit(0))
    )
    for s in _hilbert_scales():
        d_new, x_new, y_new = _hilbert_stage_exprs(s)
        base = base.selectExpr(
            "ka", "kb", "z", f"{d_new} AS d", f"{x_new} AS x", f"{y_new} AS y"
        )
    base = base.withColumn("h", F.expr(f"d div {HILBERT_SEG_W}"))
    # ONE scan, ONE shuffle: explode each row into its four
    # (layout, bucket) memberships and aggregate the whole grid in a
    # single (layout, bkt)-keyed pass — the 4-leg union shape re-reads
    # the scan per leg (8 parquet scan nodes in the formatted plan).
    exploded = base.select(
        F.explode(
            F.expr(
                "array(struct('custkey_sort' AS layout, ka AS bkt),"
                "      struct('date_sort' AS layout, kb AS bkt),"
                "      struct('hilbert' AS layout, h AS bkt),"
                "      struct('zorder' AS layout, z AS bkt))"
            )
        ).alias("m"),
        "ka",
        "kb",
    ).select(F.col("m.layout").alias("layout"), F.col("m.bkt").alias("bkt"), "ka", "kb")
    per_bucket = exploded.groupBy("layout", "bkt").agg(
        F.countDistinct("ka").alias("n_cust"),
        F.countDistinct("kb").alias("n_days"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        per_bucket.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.expr("CAST((1000 * sum(n_cust)) DIV count(1) AS BIGINT)").alias(
                "avg_custkeys_milli"
            ),
            F.expr("CAST((1000 * sum(n_days)) DIV count(1) AS BIGINT)").alias(
                "avg_days_milli"
            ),
            F.sum("n_rows").alias("total_rows"),
        )
        .orderBy("layout")
    )


def _hilbert_oracle() -> str:
    a = "CAST(o_custkey % 256 AS INT)"
    b = "CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS INT)"
    inner = (
        f"SELECT ka, kb, ({_morton_sql('ka', 'kb')} // {HILBERT_SEG_W}) AS z,"
        f" ka AS x, kb AS y, 0 AS d"
        f" FROM (SELECT {a} AS ka, {b} AS kb FROM orders)"
    )
    for s in _hilbert_scales():
        d_new, x_new, y_new = _hilbert_stage_exprs(s)
        inner = (
            f"SELECT ka, kb, z, {d_new} AS d, {x_new} AS x, {y_new} AS y"
            f" FROM ({inner})"
        )
    legs = []
    for layout, bucket in (
        ("custkey_sort", "ka"),
        ("date_sort", "kb"),
        ("hilbert", "h"),
        ("zorder", "z"),
    ):
        legs.append(
            f"""SELECT '{layout}' AS layout,
       count(*)::BIGINT AS n_buckets,
       CAST((1000 * sum(n_cust)) // count(*) AS BIGINT) AS avg_custkeys_milli,
       CAST((1000 * sum(n_days)) // count(*) AS BIGINT) AS avg_days_milli,
       CAST(sum(n_rows) AS BIGINT) AS total_rows
FROM (
  SELECT {bucket} AS bkt, count(DISTINCT ka) AS n_cust,
         count(DISTINCT kb) AS n_days, count(*) AS n_rows
  FROM base GROUP BY 1
)"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH base AS (
  SELECT ka, kb, z, (d // {HILBERT_SEG_W}) AS h
  FROM ({inner})
)
SELECT * FROM (
{union}
)
ORDER BY layout
"""


MEDIAN_BUCKET_W = 100_000

def _locate_rank(bands: list[tuple[int, int]], k: int) -> tuple[int, int]:
    """Driver-side walk of a (band, count) histogram (ascending band
    order): the band holding global rank ``k`` and the offset within
    it — the shared convention of [[exact_median_two_pass]] and
    [[grouped_trimmed_mean_two_pass]] (k = ceil(q·n) per
    percentile_disc). One definition so the two banded-selection
    faces can never drift."""
    cum = 0
    for b, c in bands:
        if cum + c >= k:
            return b, k - cum
        cum += c
    raise ValueError(f"rank {k} beyond histogram mass {cum}")

  # $1,000 bands over price cents


def exact_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median (lower median = percentile_disc(0.5))
    of lineitem extended price — computed the way a 100 TB engine
    must: never a global sort. Pass 1 is one map-side-combined
    histogram over fixed $1,000 value bands (bounded by the VALUE
    RANGE, not the row count — the collected histogram is ~100 rows
    at any scale); the driver walks the cumulative counts to find the
    band holding the k-th element (k = ⌈N/2⌉) — the same bounded
    driver-decision pattern as the k-means/BPE trainers. Pass 2 scans
    only that band (filter pushes to the parquet scan) and takes its
    (k − preceding)-th smallest tick via TakeOrdered. Everything is
    integer cents, so both passes and the oracle's percentile_disc
    agree bit-for-bit.

    Contrast faces: percentile_disc in [[dp_sensitivity_audit]] is
    the single-node sort-based form (fine on rolled-up relations);
    approx_percentile trades exactness for one pass. This is the
    exact-and-distributed corner of that triangle."""
    li = load(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("tick")
    )
    hist = (
        li.groupBy(F.expr(f"tick div {MEDIAN_BUCKET_W}").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("b")
        .collect()
    )
    n_rows = sum(r.n for r in hist)
    if n_rows == 0:
        # degenerate-input contract: empty relation -> one sane row
        # (n=0, k=0, NULL median), never a driver-side TypeError
        return spark.createDataFrame(
            [(0, 0, None)], "n_rows bigint, k bigint, median_cents bigint"
        )
    k = (n_rows + 1) // 2
    target_b, offset = _locate_rank([(r.b, r.n) for r in hist], k)
    kth = (
        li.filter(F.expr(f"tick div {MEDIAN_BUCKET_W}") == target_b)
        .orderBy("tick")
        .limit(int(offset))
        .agg(F.max("tick").alias("median_cents"))
    )
    return kth.select(
        F.lit(n_rows).cast("bigint").alias("n_rows"),
        F.lit(k).cast("bigint").alias("k"),
        "median_cents",
    )


_MEDIAN_SQL = """
WITH t AS (
  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS tick FROM lineitem
)
SELECT count(*)::BIGINT AS n_rows,
       ((count(*) + 1) // 2)::BIGINT AS k,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY tick)::BIGINT AS median_cents
FROM t
"""



TRIM_LO_PCT = 5
TRIM_HI_PCT = 95


def grouped_trimmed_mean_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group TRIMMED mean (mean of values between the exact
    5th and 95th percentile_disc cut points) of order value cents per
    order priority — the robust-stats face computed the way a 100 TB
    engine must: Spark's exact ``percentile`` aggregate BUFFERS each
    group's values in executor memory (fine for rolled-up relations,
    fatal for per-row groups); here the cut points come from the same
    banded two-pass selection as [[exact_median_two_pass]], grouped:
    one (group, $1,000-band) histogram (bounded by groups × value
    range, not rows), a driver walk locating each group's rank-⌈qn⌉
    band, one single-band rank pass for the ≤2 target bands per
    group, then one final filtered aggregate against the broadcast
    cut points. Mean is sum div count — exact integers end to end.

    percentile_disc convention: value at rank ⌈q·n⌉ (both cut points
    INCLUSIVE in the trimmed window), mirrored exactly by the oracle."""
    li = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("tick"),
    )
    band = F.expr(f"tick div {MEDIAN_BUCKET_W}")
    hist = (
        li.groupBy("grp", band.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("grp", "b")
        .collect()
    )
    from collections import defaultdict

    per_grp = defaultdict(list)
    for r in hist:
        per_grp[r.grp].append((r.b, r.n))
    # driver walk: for each group and each target rank, the band
    # holding it and the offset within the band
    targets = []  # (grp, which, band, offset)
    for grp, bands in per_grp.items():
        n = sum(c for _, c in bands)
        for which, pct in (("lo", TRIM_LO_PCT), ("hi", TRIM_HI_PCT)):
            k = -(-pct * n // 100)  # ceil(q*n) in integer arithmetic
            b, off = _locate_rank(bands, k)
            targets.append((grp, which, b, off))
    if not targets:
        return spark.createDataFrame(
            [], "grp string, n_rows bigint, lo_cents bigint, hi_cents bigint,"
            " n_kept bigint, trimmed_mean_cents bigint"
        )
    tdf = spark.createDataFrame(targets, "grp string, which string, b long, off long")
    from pyspark.sql import Window

    w = Window.partitionBy("grp", "which").orderBy("tick")
    cuts = (
        li.withColumn("b", band)
        .join(F.broadcast(tdf), ["grp", "b"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == F.col("off"))
        .groupBy("grp")
        .pivot("which", ["lo", "hi"])
        .agg(F.first("tick"))
        .select("grp", F.col("lo").alias("lo_cents"), F.col("hi").alias("hi_cents"))
    )
    return (
        li.join(F.broadcast(cuts), "grp")
        .groupBy("grp", "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                ((F.col("tick") >= F.col("lo_cents")) & (F.col("tick") <= F.col("hi_cents"))).cast("bigint")
            ).alias("n_kept"),
            F.expr(
                "sum(CASE WHEN tick >= lo_cents AND tick <= hi_cents THEN tick ELSE 0 END)"
                " div sum(CASE WHEN tick >= lo_cents AND tick <= hi_cents THEN 1 ELSE 0 END)"
            ).alias("trimmed_mean_cents"),
        )
        .select("grp", "n_rows", "lo_cents", "hi_cents", "n_kept", "trimmed_mean_cents")
        .orderBy("grp")
    )


_TRIMMED_SQL = f"""
WITH t AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS tick
  FROM orders
),
cuts AS (
  SELECT grp,
         percentile_disc({TRIM_LO_PCT / 100}) WITHIN GROUP (ORDER BY tick) AS lo_cents,
         percentile_disc({TRIM_HI_PCT / 100}) WITHIN GROUP (ORDER BY tick) AS hi_cents,
         count(*)::BIGINT AS n_rows
  FROM t GROUP BY grp
)
SELECT t.grp, c.n_rows, c.lo_cents, c.hi_cents,
       CAST(sum(CASE WHEN t.tick >= c.lo_cents AND t.tick <= c.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN t.tick >= c.lo_cents AND t.tick <= c.hi_cents THEN t.tick ELSE 0 END)
            // sum(CASE WHEN t.tick >= c.lo_cents AND t.tick <= c.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS trimmed_mean_cents
FROM t JOIN cuts c ON c.grp = t.grp
GROUP BY t.grp, c.n_rows, c.lo_cents, c.hi_cents
ORDER BY t.grp
"""


def grouped_mad_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median absolute deviation (MAD = lower median
    of |x − median_g|) of order value cents per order priority — the
    outlier-threshold statistic robust pipelines use where IQR fences
    ([[outlier_customers_iqr]]) are too coarse, computed without EVER
    buffering a group: two rounds of the banded selection kernel
    shared with [[exact_median_two_pass]] /
    [[grouped_trimmed_mean_two_pass]]. Round A: (group, $1,000-band)
    histogram → driver walk to each group's rank-⌈n/2⌉ band → one
    single-band rank pass → per-group medians (a ≤|groups|-row
    relation, broadcast). Round B: the same machinery over the
    DEVIATION ticks |x − med_g| (their value range is bounded by the
    price range, so the histogram stays ~100 bands per group at any
    row count). Integer cents end to end; the oracle is the plain
    nested percentile_disc."""
    # lazy checkpoint: the slim (grp, tick) projection feeds FIVE
    # passes per cycle (round-A histogram + rank pass, the deviation
    # derivation, round-B histogram + rank pass) — each otherwise
    # re-scans the orders parquet (guide §1.2)
    li = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("tick"),
    ).localCheckpoint(eager=False)
    from collections import defaultdict

    from pyspark.sql import Window

    def _grouped_lower_median(df, col):
        """(grp, median) for the lower median of ``col`` per group via
        the banded histogram + driver walk + single-band rank pass."""
        band = F.expr(f"{col} div {MEDIAN_BUCKET_W}")
        hist = (
            df.groupBy("grp", band.alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("grp", "b")
            .collect()
        )
        per_grp = defaultdict(list)
        for r in hist:
            per_grp[r.grp].append((r.b, r.n))
        targets = []
        for grp, bands in per_grp.items():
            n = sum(c for _, c in bands)
            k = (n + 1) // 2
            b, off = _locate_rank(bands, k)
            targets.append((grp, b, off, n))
        tdf = spark.createDataFrame(targets, "grp string, b long, off long, n long")
        w = Window.partitionBy("grp").orderBy(col)
        return (
            df.withColumn("b", band)
            .join(F.broadcast(tdf), ["grp", "b"])
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == F.col("off"))
            .select("grp", F.col(col).alias("med"), F.col("n").alias("n_rows"))
        )

    meds = _grouped_lower_median(li, "tick").localCheckpoint(eager=False)
    # dev feeds round B's histogram AND rank pass — checkpoint it too
    dev = li.join(
        F.broadcast(meds.select("grp", F.col("med").alias("median_cents"))), "grp"
    ).select(
        "grp", F.abs(F.col("tick") - F.col("median_cents")).alias("dtick")
    ).localCheckpoint(eager=False)
    mads = _grouped_lower_median(dev, "dtick").select(
        "grp", F.col("med").alias("mad_cents")
    )
    return (
        meds.select("grp", "n_rows", F.col("med").alias("median_cents"))
        .join(mads, "grp")
        .select("grp", "n_rows", "median_cents", "mad_cents")
        .orderBy("grp")
    )


_MAD_SQL = """
WITH t AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS tick
  FROM orders
),
med AS (
  SELECT grp,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY tick) AS median_cents,
         count(*)::BIGINT AS n_rows
  FROM t GROUP BY grp
)
SELECT m.grp, m.n_rows, m.median_cents::BIGINT AS median_cents,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(t.tick - m.median_cents))::BIGINT
         AS mad_cents
FROM t JOIN med m ON m.grp = t.grp
GROUP BY m.grp, m.n_rows, m.median_cents
ORDER BY m.grp
"""


QUERIES = (
    (grouped_trimmed_mean_two_pass, _TRIMMED_SQL),
    (exact_median_two_pass, _MEDIAN_SQL),
    (grouped_mad_two_pass, _MAD_SQL),
    (partition_layout_advisor, _part_advisor_oracle()),
    (join_strategy_advisor, _join_advisor_oracle()),
    (zorder_locality_report, _zorder_oracle()),
    (hilbert_curve_locality, _hilbert_oracle()),
    (profile_orders_columns, _PROFILE_SQL),
    (crosstab_returnflag_linestatus, _CROSSTAB_SQL),
    (unpivot_lineitem_measures, _UNPIVOT_SQL),
    (resample_events_hourly, _RESAMPLE_SQL),
    (resample_events_hourly_locf, _RESAMPLE_LOCF_SQL),
    (resample_events_hourly_interp, _RESAMPLE_INTERP_SQL),
    (outlier_customers_iqr, _OUTLIER_SQL),
    (histogram_order_values, _HISTOGRAM_SQL),
    (anomaly_event_hours, _ANOMALY_SQL),
    (observed_scan_metrics, _OBSERVED_SQL),
)
