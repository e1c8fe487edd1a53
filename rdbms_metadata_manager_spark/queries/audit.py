"""Operational-audit faces: fraud-style duplicate detection and
optimizer-diagnostics cardinality auditing.

[beyond-reference] per SURVEY.md §2.2 — the reference
(antonylucas/rdbms-metadata-manager) audits SCHEMAS; these audit the
DATA and the PLANS a warehouse team runs on top of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import DAY_SECONDS, load

DUP_WINDOW_DAYS = 7


def duplicate_payment_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential duplicate payments: pairs of orders by the SAME
    customer for the SAME exact amount within a 7-day window — the
    classic accounts-payable fraud/retry screen ([[dedup_exact]]
    finds byte-identical rows; this finds SEMANTIC near-duplicates
    keyed by who+how-much+when). Each unordered pair is emitted once
    (earlier day first; orderkey tiebreak for same-day pairs).

    Scale: a SELF-join keyed on (customer, amount-cents) — the
    equality key does all the pruning, so the band predicate only
    filters within already-tiny key groups (no all-pairs, no range
    explosion); shuffle partitioning is by the composite key, which
    is skew-free by construction (one customer would need millions
    of same-priced orders to skew a partition)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("day"),
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.cents") == F.col("b.cents")),
        )
        .filter(
            (F.col("b.day") - F.col("a.day") <= DUP_WINDOW_DAYS)
            & (
                (F.col("a.day") < F.col("b.day"))
                | (
                    (F.col("a.day") == F.col("b.day"))
                    & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
                )
            )
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.cents").alias("amount_cents"),
            F.col("a.o_orderkey").alias("orderkey_first"),
            F.col("b.o_orderkey").alias("orderkey_second"),
            (F.col("b.day") - F.col("a.day")).cast("bigint").alias("day_gap"),
        )
        .orderBy("o_custkey", "orderkey_first", "orderkey_second")
    )


_DUP_PAY_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS day
  FROM orders
)
SELECT a.o_custkey AS o_custkey, a.cents AS amount_cents,
       a.o_orderkey AS orderkey_first, b.o_orderkey AS orderkey_second,
       (b.day - a.day)::BIGINT AS day_gap
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.cents = b.cents
WHERE b.day - a.day <= {DUP_WINDOW_DAYS}
  AND (a.day < b.day OR (a.day = b.day AND a.o_orderkey < b.o_orderkey))
ORDER BY o_custkey, orderkey_first, orderkey_second
"""


# (join_name, left_table, left_key, right_table, right_key) — the
# star schema's real join edges.  Single source of truth for the
# Spark plan AND the generated oracle SQL.
_JOIN_SPEC: list[tuple[str, str, str, str, str]] = [
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
]


def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size audit for the star schema's join edges: the EXACT
    output cardinality |R ⋈ S| = Σₖ c_R(k)·c_S(k) versus the textbook
    optimizer estimate |R|·|S| / max(d_R, d_S) (uniform-containment
    assumption), with the error in per-mille — the diagnostic behind
    every "the optimizer picked the wrong join order" incident
    ([[join_strategy_advisor]] recommends the physical strategy; this
    measures how wrong the cardinality model feeding it would be).

    Scale: the exact count comes from joining the two per-key COUNT
    rollups — the join itself is NEVER materialized, so a 10¹²-row
    join output costs two map-side-combined rollups plus one keyed
    join on the key domain. Products widen to DECIMAL(38,0)
    (c_R·c_S summed across keys reaches the true join size, which is
    the quantity being audited precisely because it can explode)."""
    # Single-pass melt (the fk_inclusion_discovery doctrine): the 5
    # edges audit 9 (table, key) columns across 6 tables, 3 of them on
    # lineitem — the old shape ran 9 scans, 10 rollup exchanges, a
    # checkpoint per rollup and three stitched aggregates per edge
    # (51 Spark jobs per invocation; at scale, lineitem read 3 times).
    # Now: ONE scan per table emits (col_id, key) pairs, ONE groupBy
    # on the raw key computes all 9 per-key counts as conditional sums
    # (map-side partial agg keeps the shuffle at distinct-key volume),
    # and ONE global aggregate folds every edge's five statistics —
    # Σ c_R(k)·c_S(k), n, d — in the same pass. Keys from unrelated
    # domains sharing an integer value simply cohabit a group; products
    # are only ever taken between each edge's own two columns.
    # Output rows/types are identical (guide §2.3/§2.4/§6: scan once,
    # shuffle once, never re-stitch single-row aggregates with joins).
    col_ids: dict[tuple[str, str], int] = {}
    for _jname, lt, lk, rt, rk in _JOIN_SPEC:
        for t, c in ((lt, lk), (rt, rk)):
            col_ids.setdefault((t, c), len(col_ids))
    per_table: dict[str, list[tuple[str, int]]] = {}
    for (t, c), cid in col_ids.items():
        per_table.setdefault(t, []).append((c, cid))
    melted = None
    for t, key_cols in per_table.items():
        entries = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("cid"), F.col(c).cast("long").alias("k")
                )
                for c, cid in key_cols
            ]
        )
        part = (
            load(spark, sf_dir, t)
            .select(F.explode(entries).alias("e"))
            .select("e.cid", "e.k")
            .filter(F.col("k").isNotNull())
        )
        melted = part if melted is None else melted.unionAll(part)
    per_key = melted.groupBy("k").agg(
        *[
            F.sum(F.when(F.col("cid") == cid, F.lit(1))).alias(f"c{cid}")
            for cid in range(len(col_ids))
        ]
    )
    edge_aggs = []
    for jname, lt, lk, rt, rk in _JOIN_SPEC:
        li_, ri_ = col_ids[(lt, lk)], col_ids[(rt, rk)]
        edge_aggs += [
            F.coalesce(F.sum(f"c{li_}"), F.lit(0)).alias(f"nl_{jname}"),
            F.count(f"c{li_}").alias(f"dl_{jname}"),
            F.coalesce(F.sum(f"c{ri_}"), F.lit(0)).alias(f"nr_{jname}"),
            F.count(f"c{ri_}").alias(f"dr_{jname}"),
            F.coalesce(
                F.sum(F.col(f"c{li_}").cast("decimal(38,0)") * F.col(f"c{ri_}")),
                F.lit(0),
            ).alias(f"act_{jname}"),
        ]
    stats = per_key.agg(*edge_aggs)
    per_edge = [
        F.struct(
            F.lit(jname).alias("join_name"),
            F.col(f"nl_{jname}").cast("bigint").alias("n_left"),
            F.col(f"dl_{jname}").cast("bigint").alias("d_left"),
            F.col(f"nr_{jname}").cast("bigint").alias("n_right"),
            F.col(f"dr_{jname}").cast("bigint").alias("d_right"),
            F.expr(f"CAST(act_{jname} AS BIGINT)").alias("actual_rows"),
            F.expr(
                f"CASE WHEN greatest(dl_{jname}, dr_{jname}) = 0 THEN 0 ELSE"
                f" CAST((CAST(nl_{jname} AS DECIMAL(38,0)) * nr_{jname})"
                f" div greatest(dl_{jname}, dr_{jname}) AS BIGINT) END"
            ).alias("est_rows"),
        )
        for jname, lt, lk, rt, rk in _JOIN_SPEC
    ]
    return (
        stats.select(F.explode(F.array(*per_edge)).alias("e"))
        .select("e.*")
        .withColumn(
            # a RATIO (1000 = perfect estimate), deliberately named
            # apart from capture_recapture_users' SIGNED est_err_pm
            # (0 = perfect) — ADVICE r6 #2
            "actual_vs_est_pm",
            F.expr(
                "CASE WHEN est_rows = 0 THEN NULL ELSE"
                " CAST((1000 * CAST(actual_rows AS DECIMAL(38,0)))"
                " div est_rows AS BIGINT) END"
            ),
        )
        .orderBy("join_name")
    )


def _join_audit_oracle() -> str:
    selects = []
    for jname, lt, lk, rt, rk in _JOIN_SPEC:
        selects.append(
            f"""
SELECT '{jname}' AS join_name, n_left, d_left, n_right, d_right,
       actual_rows, est_rows,
       CASE WHEN est_rows = 0 THEN NULL ELSE
         CAST((1000 * actual_rows::HUGEINT) // est_rows AS BIGINT) END
         AS actual_vs_est_pm
FROM (
  WITH lroll AS (
    SELECT {lk}::BIGINT AS k, count(*)::BIGINT AS ln FROM {lt}
    WHERE {lk} IS NOT NULL GROUP BY 1
  ),
  rroll AS (
    SELECT {rk}::BIGINT AS k, count(*)::BIGINT AS rn FROM {rt}
    WHERE {rk} IS NOT NULL GROUP BY 1
  ),
  lstat AS (
    SELECT coalesce(sum(ln), 0)::BIGINT AS n_left, count(*)::BIGINT AS d_left
    FROM lroll
  ),
  rstat AS (
    SELECT coalesce(sum(rn), 0)::BIGINT AS n_right, count(*)::BIGINT AS d_right
    FROM rroll
  ),
  act AS (
    SELECT coalesce(sum(ln::HUGEINT * rn), 0) AS actual
    FROM lroll JOIN rroll USING (k)
  )
  SELECT n_left, d_left, n_right, d_right,
         CAST(actual AS BIGINT) AS actual_rows,
         CASE WHEN greatest(d_left, d_right) = 0 THEN 0 ELSE
           CAST((n_left::HUGEINT * n_right) // greatest(d_left, d_right)
                AS BIGINT) END AS est_rows
  FROM lstat, rstat, act
)"""
        )
    return " UNION ALL ".join(selects) + "\nORDER BY join_name"


# approx_percentile rank-error audit: quantile probes in per-mille
# and the sketch accuracy parameter (rank error guarantee = n/ACC).
_PCT_QS = [100, 250, 500, 750, 900, 990]
_PCT_ACC = 10000


def approx_percentile_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audits Spark's approx_percentile against its FORMAL rank-error
    contract: with accuracy A, the returned value's exact rank must
    lie within n/A of the target rank q·n (Greenwald-Khanna style
    guarantee) — a much tighter check than
    [[approx_distinct_stats]]'s 10% value tolerance (here the bound
    is ±0.01% of n). The emitted columns are the exact
    percentile_disc values plus boolean in-bound flags; the oracle
    emits the same exact values with literal TRUE flags, so a sketch
    regression breaks the hash match while the output stays
    deterministic (sketch values themselves never surface).

    Scale: two scans — one combined aggregate computing n, the six
    exact order statistics, and the six sketch probes; one follow-up
    scan counting rows below/at each probe value (conditional sums
    against the broadcast 1-row probe relation). Rank checks are
    exact integer comparisons."""
    li = load(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("tick")
    )
    from .prefix import ranged_prefix

    # Exact order statistics via the distributed (value, count)
    # histogram walk — NOT percentile_disc, whose sort-aggregate
    # buffers the full multiset in one reducer (the same single-node
    # pattern theil_sen_daily_trend measured and banned; the oracle
    # keeps percentile_disc because DuckDB is the referee, not the
    # scale path). percentile_disc semantics preserved exactly:
    # smallest value whose cumulative count reaches ceil(q·n).
    hist = (
        li.groupBy("tick")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .localCheckpoint(eager=False)
    )
    # freeze_input=False: hist is already a lazy checkpoint
    cum = ranged_prefix(hist, [F.col("tick")], sum_cols=["n_t"], freeze_input=False)
    # the sketch itself aggregates distributively (partial sketches
    # merge) — it is the op under audit AND the scalable path. n_rows
    # rides the same scan (count == Σ n_t over hist, the old separate
    # `tot` aggregate — one corpus pass and one job fewer).
    one = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.expr(f"approx_percentile(tick, {q / 1000}, {_PCT_ACC})").alias(
                f"a_{q}"
            )
            for q in _PCT_QS
        ],
    )
    exact_aggs = [F.first("n_rows").alias("n_rows")] + [
        F.expr(
            f"min(CASE WHEN cum_n_t >="
            f" CAST(({q} * n_rows + 999) div 1000 AS BIGINT)"
            f" THEN tick END)"
        ).alias(f"x_{q}")
        for q in _PCT_QS
    ]
    exacts = cum.crossJoin(F.broadcast(one)).agg(*exact_aggs)
    # Rank counts from the (checkpointed) tick histogram, not a third
    # corpus scan: Σ n_t over tick < / <= a_q equals the row counts
    # exactly (guide §1.2 — the minimum is two passes: the sketch
    # under audit and the exact histogram; everything else is
    # tick-domain work).
    counts = (
        hist.crossJoin(F.broadcast(one))
        .agg(
            # coalesce(…, 0): the old row-level sum of cast(bool)
            # returned 0 (not NULL) when no row satisfied the
            # predicate; only the n_rows = 0 CASE arm may see the
            # empty-input NULL, and it never reads these columns.
            *[
                F.coalesce(
                    F.sum(F.when(F.col("tick") < F.col(f"a_{q}"), F.col("n_t"))),
                    F.lit(0),
                ).cast("bigint").alias(f"lt_{q}")
                for q in _PCT_QS
            ],
            *[
                F.coalesce(
                    F.sum(F.when(F.col("tick") <= F.col(f"a_{q}"), F.col("n_t"))),
                    F.lit(0),
                ).cast("bigint").alias(f"le_{q}")
                for q in _PCT_QS
            ],
        )
        .crossJoin(F.broadcast(exacts))
    )
    # One row per probe via a literal-array explode over the SINGLE
    # combined 1-row relation. The previous shape unioned 6 branches,
    # each crossJoining `one` and `counts` — Catalyst treats every
    # branch as an independent subtree, so the full-scan sketch
    # aggregate and the rank-count scan each ran SIX times (54 Spark
    # jobs per invocation, ~0.06 s dispatch floor each locally; at
    # scale, 10 redundant corpus passes). The explode evaluates each
    # aggregate exactly once; output rows/types are identical
    # (guide §1.2: remove passes that recompute what is already known).
    per_q = [
        F.struct(
            F.lit(q).alias("q_permille"),
            F.col(f"x_{q}").alias("exact_tick"),
            F.expr(
                # the approx value's exact-rank interval [lt+1, le]
                # must intersect the integer-rank band
                # [ceil(q*n - n/ACC) - 1, ceil(q*n + n/ACC) + 1]:
                # the formal q*n ± n/ACC band widened by EXACTLY one
                # rank per end, deliberately (ADVICE r6 #4) — the
                # engine's target-rank convention (q*n vs ceil(q*n)
                # vs 1+floor(q*(n-1))) is itself a <1-rank
                # ambiguity, so the audited guarantee is n/ACC + 1
                # ranks. Empty input passes vacuously.
                f"CASE WHEN coalesce(n_rows, 0) = 0 THEN TRUE ELSE"
                f" le_{q} >= CAST(ceil({q / 1000} * n_rows"
                f"   - CAST(n_rows AS DOUBLE) / {_PCT_ACC}) AS BIGINT) - 1"
                f" AND lt_{q} < CAST(ceil({q / 1000} * n_rows"
                f"   + CAST(n_rows AS DOUBLE) / {_PCT_ACC}) AS BIGINT) + 1 END"
            ).alias("rank_in_bound"),
        )
        for q in _PCT_QS
    ]
    return (
        counts.select(
            F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
            F.explode(F.array(*per_q)).alias("e"),
        )
        .select("e.q_permille", "n_rows", "e.exact_tick", "e.rank_in_bound")
        .orderBy("q_permille")
    )


def _pct_audit_oracle() -> str:
    selects = [
        f"""
SELECT {q} AS q_permille, count(*)::BIGINT AS n_rows,
       percentile_disc({q / 1000}) WITHIN GROUP (ORDER BY tick) AS exact_tick,
       TRUE AS rank_in_bound
FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS tick
      FROM lineitem)"""
        for q in _PCT_QS
    ]
    return " UNION ALL ".join(selects) + "\nORDER BY q_permille"


def spc_individuals_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals/moving-range (I-MR) control chart over
    daily revenue — the SPC monitor an ops team keeps on any daily
    KPI: x_t = daily revenue cents, MR_t = |x_t − x_{t−1}|, limits
    x̄ ± 2.66·M̄R (the standard d2-derived constant for n=2 moving
    ranges). [[changepoint_daily_events]] finds WHERE the level
    shifted after the fact; this flags WHICH days breach the
    in-control band as they happen. Flags also mark Western-Electric
    rule 1 only (beyond 3σ-equivalent) — the rule that needs no
    run-length state.

    Exactness: x_t and MR_t are exact integers; the center line and
    limits are one identical IEEE scalar DAG over exact sums; breach
    flags compare the same doubles on both engines. The daily
    relation is CALENDAR-BOUNDED, so the lag window rides the
    sanctioned one_group form.

    Scale: one daily rollup shuffle; everything after runs on
    ≤|days| rows."""
    from .prefix import one_group

    orders = load(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("day")
    ).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).alias("x")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(one_group(F.col("day"))).orderBy("day")
    with_mr = daily.withColumn(
        "mr", F.abs(F.col("x") - F.lag("x").over(w))
    ).localCheckpoint(eager=False)
    stat = with_mr.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("mr").cast("decimal(38,0)").alias("smr"),
        F.count("mr").alias("n_mr"),
    ).select(
        "n_days",
        F.expr("CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)").alias("center"),
        F.expr(
            "CASE WHEN n_mr = 0 THEN NULL ELSE"
            " CAST(2.66 AS DOUBLE) * CAST(smr AS DOUBLE) / CAST(n_mr AS DOUBLE)"
            " END"
        ).alias("band"),
    )
    return (
        with_mr.crossJoin(F.broadcast(stat))
        .select(
            "day",
            F.col("x").alias("revenue_cents"),
            F.col("mr").alias("moving_range"),
            "n_days",
            "center",
            F.expr("center - band").alias("lcl"),
            F.expr("center + band").alias("ucl"),
            F.expr(
                "CASE WHEN band IS NULL THEN FALSE ELSE"
                " CAST(x AS DOUBLE) > center + band"
                " OR CAST(x AS DOUBLE) < center - band END"
            ).alias("out_of_control"),
        )
        .orderBy("day")
    )


_SPC_SQL = f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS day,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS x
  FROM orders GROUP BY 1
),
with_mr AS (
  SELECT day, x, abs(x - lag(x) OVER (ORDER BY day))::BIGINT AS mr FROM daily
),
stat AS (
  SELECT count(*)::BIGINT AS n_days,
         CAST(sum(x)::HUGEINT AS DOUBLE) / CAST(count(*) AS DOUBLE) AS center,
         CASE WHEN count(mr) = 0 THEN NULL ELSE
           CAST(2.66 AS DOUBLE) * CAST(sum(mr)::HUGEINT AS DOUBLE)
             / CAST(count(mr) AS DOUBLE) END AS band
  FROM with_mr
)
SELECT day, x AS revenue_cents, mr AS moving_range, n_days, center,
       center - band AS lcl, center + band AS ucl,
       CASE WHEN band IS NULL THEN FALSE ELSE
         CAST(x AS DOUBLE) > center + band
         OR CAST(x AS DOUBLE) < center - band END AS out_of_control
FROM with_mr, stat
ORDER BY day
"""


def abc_inventory_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — every part assigned its Pareto
    class by cumulative revenue share (A: first 80% of revenue,
    B: next 15%, C: tail), the stocking-policy segmentation behind
    cycle-count frequency and safety-stock rules
    ([[pareto_revenue_concentration]] reports the curve's summary
    points; this LABELS the full part relation). Class boundaries
    are exact integer comparisons (100·cum ≤ 80·total), never float
    shares.

    Scale: one part-keyed rollup, then the global revenue-descending
    rank and running sum ride the range-partitioned two-pass kernel
    (``ranged_prefix`` over (−revenue, partkey) — no single-partition
    window over the unbounded part relation). Output is |parts| rows
    by design — a labeling, not a report."""
    from .prefix import ranged_prefix

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)"
                " AS BIGINT)"
            )
        ).alias("rev")
    )
    ranked = ranged_prefix(
        rev.withColumn("neg_rev", -F.col("rev")),
        [F.col("neg_rev"), F.col("l_partkey")],
        sum_cols=["rev"],
        rank_col="rnk",
    )
    total = rev.agg(F.sum("rev").cast("decimal(38,0)").alias("total_rev"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("rev").alias("revenue_cents"),
            F.col("rnk").cast("bigint").alias("revenue_rank"),
            F.col("cum_rev").cast("bigint").alias("cum_revenue_cents"),
            F.expr(
                "CASE WHEN 100 * CAST(cum_rev AS DECIMAL(38,0)) <= 80 * total_rev"
                " THEN 'A' WHEN 100 * CAST(cum_rev AS DECIMAL(38,0))"
                " <= 95 * total_rev THEN 'B' ELSE 'C' END"
            ).alias("abc_class"),
        )
        .orderBy("revenue_rank")
    )


_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT))::BIGINT AS rev
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT l_partkey, rev,
         row_number() OVER (ORDER BY -rev, l_partkey) AS rnk,
         CAST(sum(rev) OVER (ORDER BY -rev, l_partkey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev
  FROM rev
),
total AS (SELECT sum(rev)::HUGEINT AS total_rev FROM rev)
SELECT l_partkey AS p_partkey, rev AS revenue_cents,
       rnk::BIGINT AS revenue_rank, cum_rev AS cum_revenue_cents,
       CASE WHEN 100 * cum_rev::HUGEINT <= 80 * total_rev THEN 'A'
            WHEN 100 * cum_rev::HUGEINT <= 95 * total_rev THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked, total
ORDER BY revenue_rank
"""


BRIDGE_Y0, BRIDGE_Y1 = 1996, 1997


def revenue_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue BRIDGE per part brand — the FP&A
    decomposition behind every "why did revenue move" review:
    Δrevenue = price effect ((p₁−p₀)·q₀) + volume effect ((q₁−q₀)·p₀)
    + mix/cross residual, where p is the realized unit price r/q.
    The residual is defined as Δr − price − volume, so the bridge
    RECONCILES EXACTLY by construction — the conservation property
    [[multi_touch_attribution]] pins for credit, pinned here for
    money.

    Exactness: r and q are exact integers; the two effect terms are
    exact truncating integer divisions (r₁·q₀ div q₁ − r₀ and
    (q₁−q₀)·r₀ div q₀ — numerators widened to DECIMAL(38,0)); the
    residual is integer subtraction. Brands present in only one year
    report NULL effects and carry the whole delta in the residual
    (new/exited lines belong to mix by FP&A convention).

    Scale: one lineitem⋈part join shuffled on the part key, one
    (brand, year) rollup, then a self-pivot on the ≤|brands| rollup.
    Year literals are pinned so every SF compares the same period."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    by = (
        li.filter(
            F.expr(f"year(l_shipdate) IN ({BRIDGE_Y0}, {BRIDGE_Y1})")
        )
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.expr("year(l_shipdate)").alias("yr"))
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)"
                    " AS BIGINT)"
                )
            ).alias("r"),
            F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("q"),
        )
        .localCheckpoint(eager=False)
    )
    y0 = by.filter(F.col("yr") == BRIDGE_Y0).select(
        "p_brand", F.col("r").alias("r0"), F.col("q").alias("q0")
    )
    y1 = by.filter(F.col("yr") == BRIDGE_Y1).select(
        "p_brand", F.col("r").alias("r1"), F.col("q").alias("q1")
    )
    return (
        y0.join(y1, "p_brand", "full_outer")
        .select(
            "p_brand",
            F.coalesce("r0", F.lit(0)).alias("r0"),
            F.coalesce("q0", F.lit(0)).alias("q0"),
            F.coalesce("r1", F.lit(0)).alias("r1"),
            F.coalesce("q1", F.lit(0)).alias("q1"),
        )
        .select(
            "p_brand",
            F.col("r0").alias("rev0_cents"),
            F.col("r1").alias("rev1_cents"),
            "q0",
            "q1",
            (F.col("r1") - F.col("r0")).alias("delta_cents"),
            F.expr(
                "CASE WHEN q0 = 0 OR q1 = 0 THEN NULL ELSE"
                " CAST((CAST(r1 AS DECIMAL(38,0)) * q0) div q1 - r0 AS BIGINT)"
                " END"
            ).alias("price_effect_cents"),
            F.expr(
                "CASE WHEN q0 = 0 OR q1 = 0 THEN NULL ELSE"
                " CAST((CAST(q1 - q0 AS DECIMAL(38,0)) * r0) div q0 AS BIGINT)"
                " END"
            ).alias("volume_effect_cents"),
        )
        .withColumn(
            "mix_residual_cents",
            F.expr(
                "delta_cents - coalesce(price_effect_cents, 0)"
                " - coalesce(volume_effect_cents, 0)"
            ),
        )
        .orderBy("p_brand")
    )


_BRIDGE_SQL = f"""
WITH by AS (
  SELECT p_brand, year(l_shipdate) AS yr,
         sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
             AS BIGINT))::BIGINT AS r,
         sum(CAST(l_quantity AS BIGINT))::BIGINT AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) IN ({BRIDGE_Y0}, {BRIDGE_Y1})
  GROUP BY 1, 2
),
y0 AS (SELECT p_brand, r AS r0, q AS q0 FROM by WHERE yr = {BRIDGE_Y0}),
y1 AS (SELECT p_brand, r AS r1, q AS q1 FROM by WHERE yr = {BRIDGE_Y1}),
j AS (
  SELECT coalesce(y0.p_brand, y1.p_brand) AS p_brand,
         coalesce(r0, 0) AS r0, coalesce(q0, 0) AS q0,
         coalesce(r1, 0) AS r1, coalesce(q1, 0) AS q1
  FROM y0 FULL OUTER JOIN y1 ON y0.p_brand = y1.p_brand
),
eff AS (
  SELECT p_brand, r0 AS rev0_cents, r1 AS rev1_cents, q0, q1,
         (r1 - r0)::BIGINT AS delta_cents,
         CASE WHEN q0 = 0 OR q1 = 0 THEN NULL ELSE
           CAST((r1::HUGEINT * q0) // q1 - r0 AS BIGINT) END
           AS price_effect_cents,
         CASE WHEN q0 = 0 OR q1 = 0 THEN NULL ELSE
           CAST(((q1 - q0)::HUGEINT * r0) // q0 AS BIGINT) END
           AS volume_effect_cents
  FROM j
)
SELECT *, (delta_cents - coalesce(price_effect_cents, 0)
           - coalesce(volume_effect_cents, 0))::BIGINT AS mix_residual_cents
FROM eff
ORDER BY p_brand
"""


SKIP_FILES = 64  # simulated file count per layout
SKIP_PROBES = 8  # equal-width probe ranges per key


def minmax_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) file-skipping audit — the number that
    decides a table's physical layout at 100 TB: orders are laid out
    into 64 equal-row files two ways (clustered by order date;
    clustered by customer key), each file records its min/max ZONE
    for BOTH keys (exactly what parquet row-group statistics store),
    and 8 equal-width probe ranges per key report how many files a
    range scan could SKIP. The expected asymmetry — a date-clustered
    layout skips ~⅞ of files for date probes and nearly nothing for
    customer probes — is the measured argument behind "cluster by
    the predicate you filter on" ([[partition_layout_advisor]] ranks
    candidate keys by cardinality heuristics; this MEASURES the
    pruning each layout would deliver; [[zorder_locality_report]]
    covers the both-keys-at-once compromise).

    Exactness: file assignment is the exact global rank (range
    kernel, never a one-executor sort) bucketed by
    ((rank−1)·64) div n; zones and probe edges are exact integers;
    overlap counting is integer comparison.

    Scale: per layout, one range-kernel pass over the slim 3-column
    projection; zones aggregate map-side to ≤64 rows; probes run on
    a 64×8 bounded cross."""
    from .prefix import ranged_prefix

    base = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("ck"),
            F.expr(f"unix_timestamp(o_orderdate) div {DAY_SECONDS}").alias("dy"),
        )
        .localCheckpoint(eager=False)
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dy").alias("dy_min"),
        F.max("dy").alias("dy_max"),
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
    ).localCheckpoint(eager=False)
    # probe spines depend only on the probe KEY, not the layout —
    # built once and reused by both layout legs
    probe_spines = {}
    for probe_key, pcol in (("custkey", "ck"), ("date", "dy")):
        probe_spines[probe_key] = tot.select(
            F.explode(F.expr(f"sequence(0, {SKIP_PROBES} - 1)")).alias("k"),
            F.expr(
                f"greatest(({pcol}_max - {pcol}_min + 1)"
                f" div {SKIP_PROBES}, 1)"
            ).alias("_step"),
            F.col(f"{pcol}_min").alias("_lo0"),
            F.col(f"{pcol}_max").alias("_hi0"),
        ).select(
            "k",
            F.expr("_lo0 + k * _step").alias("p_lo"),
            F.expr(
                f"CASE WHEN k = {SKIP_PROBES} - 1 THEN _hi0"
                f" ELSE _lo0 + (k + 1) * _step - 1 END"
            ).alias("p_hi"),
        )
    probe_legs = []
    for layout, lcol in (("by_custkey", "ck"), ("by_date", "dy")):
        # freeze_input=False: base is already a lazy checkpoint
        ranked = ranged_prefix(
            base, [F.col(lcol), F.col("o_orderkey")], rank_col="rk",
            freeze_input=False,
        )
        files = (
            ranked.crossJoin(F.broadcast(tot.select("n")))
            .select(
                F.expr(f"CAST(((rk - 1) * {SKIP_FILES}) div n AS BIGINT)").alias(
                    "f"
                ),
                "dy",
                "ck",
            )
            .groupBy("f")
            .agg(
                F.min("dy").alias("f_dy_lo"),
                F.max("dy").alias("f_dy_hi"),
                F.min("ck").alias("f_ck_lo"),
                F.max("ck").alias("f_ck_hi"),
            )
            .localCheckpoint(eager=False)
        )
        for probe_key, pcol in (("custkey", "ck"), ("date", "dy")):
            probe_legs.append(
                probe_spines[probe_key].join(F.broadcast(files))
                .groupBy("k", "p_lo", "p_hi")
                .agg(
                    F.count(F.lit(1)).alias("files_total"),
                    F.sum(
                        F.expr(
                            f"CASE WHEN f_{pcol}_hi >= p_lo"
                            f" AND f_{pcol}_lo <= p_hi THEN 1 ELSE 0 END"
                        )
                    ).alias("files_touched"),
                )
                .select(
                    F.lit(layout).alias("layout"),
                    F.lit(probe_key).alias("probe_key"),
                    F.col("k").cast("bigint").alias("probe_id"),
                    F.col("files_total").cast("bigint").alias("files_total"),
                    F.col("files_touched").cast("bigint").alias("files_touched"),
                    F.expr(
                        "CAST((1000 * (files_total - files_touched))"
                        " div files_total AS BIGINT)"
                    ).alias("skip_permille"),
                )
            )
    out = probe_legs[0]
    for leg in probe_legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("layout", "probe_key", "probe_id")


def _minmax_oracle() -> str:
    legs = []
    for layout, lcol in (("by_custkey", "ck"), ("by_date", "dy")):
        for probe_key, pcol in (("custkey", "ck"), ("date", "dy")):
            legs.append(
                f"""
SELECT '{layout}' AS layout, '{probe_key}' AS probe_key,
       CAST(p.k AS BIGINT) AS probe_id,
       count(*)::BIGINT AS files_total,
       sum(CASE WHEN f.f_{pcol}_hi >= p.p_lo AND f.f_{pcol}_lo <= p.p_hi
                THEN 1 ELSE 0 END)::BIGINT AS files_touched,
       CAST((1000 * (count(*) - sum(CASE WHEN f.f_{pcol}_hi >= p.p_lo
            AND f.f_{pcol}_lo <= p.p_hi THEN 1 ELSE 0 END)))
            // count(*) AS BIGINT) AS skip_permille
FROM probes_{pcol} p CROSS JOIN files_{layout} f
GROUP BY p.k, p.p_lo, p.p_hi"""
            )
    union = "\nUNION ALL\n".join(legs)
    files_ctes = ", ".join(
        f"""
ranked_{layout} AS (
  SELECT *, row_number() OVER (ORDER BY {lcol}, o_orderkey) AS rk FROM base
),
files_{layout} AS (
  SELECT CAST(((rk - 1) * {SKIP_FILES}) // (SELECT n FROM tot) AS BIGINT) AS f,
         min(dy) AS f_dy_lo, max(dy) AS f_dy_hi,
         min(ck) AS f_ck_lo, max(ck) AS f_ck_hi
  FROM ranked_{layout}
  GROUP BY 1
)"""
        for layout, lcol in (("by_custkey", "ck"), ("by_date", "dy"))
    )
    probes_ctes = ", ".join(
        f"""
probes_{pcol} AS (
  SELECT t.k,
         {pcol}_min + t.k * greatest(({pcol}_max - {pcol}_min + 1)
           // {SKIP_PROBES}, 1) AS p_lo,
         CASE WHEN t.k = {SKIP_PROBES} - 1 THEN {pcol}_max
              ELSE {pcol}_min + (t.k + 1) * greatest(({pcol}_max - {pcol}_min
                + 1) // {SKIP_PROBES}, 1) - 1 END AS p_hi
  FROM tot, range(0, {SKIP_PROBES}) t(k)
)"""
        for pcol in ("ck", "dy")
    )
    return f"""
WITH base AS (
  SELECT o_orderkey, o_custkey AS ck,
         epoch_us(o_orderdate) // 1000000 // {DAY_SECONDS} AS dy
  FROM orders
),
tot AS (
  SELECT count(*)::BIGINT AS n, min(dy) AS dy_min, max(dy) AS dy_max,
         min(ck) AS ck_min, max(ck) AS ck_max
  FROM base
),
{files_ctes},
{probes_ctes}
{union}
ORDER BY layout, probe_key, probe_id
"""


QUERIES = (
    (duplicate_payment_candidates, _DUP_PAY_SQL),
    (join_cardinality_audit, _join_audit_oracle()),
    (approx_percentile_rank_audit, _pct_audit_oracle()),
    (spc_individuals_chart, _SPC_SQL),
    (abc_inventory_classes, _ABC_SQL),
    (revenue_bridge_decomposition, _BRIDGE_SQL),
    (minmax_skipping_audit, _minmax_oracle()),
)
