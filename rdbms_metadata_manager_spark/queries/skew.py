"""Skew-mitigation pattern: HOT-KEY-ONLY salted join.

AQE's skew-join splitting handles most cases at runtime
(spark.sql.adaptive.skewJoin.enabled, on in session.py); explicit
salting is the manual fallback when one key dominates so badly that
even split partitions overload (the classic null-key / celebrity-user
problem at 100 TB).

Shape (two-path plan): a cheap map-side-combined pre-aggregate finds
keys whose probe-side frequency exceeds HOT_KEY_THRESHOLD — by
definition a SMALL set, so it broadcasts. The tail (everything else)
takes a plain join and AQE mops up residual imbalance; only the hot
slice pays the salt: probe rows get a deterministic salt, the build
rows are exploded ×SALT_BUCKETS (hot keys only, so the explode is
bounded by |hot| × SALT_BUCKETS rows, not ×8 of the whole table).
Union of the two paths is row-identical to the unsalted join — the
oracle is the plain join.

An unconditional whole-table ×SALT_BUCKETS explode (the naive form)
multiplies build-side shuffle volume on EVERY key; at 100 TB that
triples shuffle for the 99.9% of keys that were never skewed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.hashing import h32, h32_sql
from .base import load
from .relational import _money

SALT_BUCKETS = 8
# Probe rows per key above which a key is salted. TPC-H lineitem tops
# out at 7 lines/order, so at test scale the hot set is empty and the
# plan degenerates to the plain join — exactly the desired behavior
# when there is no skew; the salted path is exercised by the unit
# test's synthetic celebrity key.
HOT_KEY_THRESHOLD = 1000


def two_path_skew_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    threshold: int = HOT_KEY_THRESHOLD,
    buckets: int = SALT_BUCKETS,
) -> DataFrame:
    """Inner-join probe↔build on probe_key=build_key, salting only
    keys hotter than ``threshold`` on the probe side. Returns the
    union of the plain-joined tail and the salted hot slice —
    row-identical to the unsalted inner join."""
    # Lazy checkpoint: the hot-key relation (tiny by definition) feeds
    # TWO broadcast builds (probe-named and build-named) — without it,
    # each broadcast re-runs the full probe-side pre-aggregate, i.e.
    # two extra corpus passes per cycle (the rename defeats exchange
    # reuse; guide §1.2: don't recompute what a materialization holds).
    hot = (
        probe.groupBy(probe_key)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > threshold)
        .select(probe_key)
        .localCheckpoint(eager=False)
    )
    hot_p = F.broadcast(hot)
    hot_b = F.broadcast(hot.withColumnRenamed(probe_key, build_key))
    p_cols, b_cols = probe.columns, build.columns

    tail = (
        probe.join(hot_p, probe_key, "left_anti")
        .alias("p")
        .join(
            build.join(hot_b, build_key, "left_anti").alias("b"),
            F.col(f"p.{probe_key}") == F.col(f"b.{build_key}"),
        )
    )
    # Deterministic salt from the full probe row; any distribution is
    # correct (the build side carries every salt value for hot keys).
    ph = probe.join(hot_p, probe_key, "left_semi").withColumn(
        "_salt", F.pmod(F.abs(F.xxhash64(*p_cols)), F.lit(buckets))
    )
    bh = build.join(hot_b, build_key, "left_semi").withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    hot_join = ph.alias("p").join(
        bh.alias("b"),
        (F.col(f"p.{probe_key}") == F.col(f"b.{build_key}"))
        & (F.col("p._salt") == F.col("b._salt")),
    )
    sel = [F.col(f"p.{c}") for c in p_cols] + [F.col(f"b.{c}") for c in b_cols]
    return tail.select(*sel).unionByName(hot_join.select(*sel))


def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        two_path_skew_join(li, o, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(_money("l_extendedprice") * (1 - _money("l_discount"))), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


# The oracle is the UNSALTED join — salting must not change results.
_SALTED_SQL = """
SELECT o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

HEAVY_K = 10


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis: the top-K heaviest join/grouping keys and the
    share of all rows each one carries — the report you run BEFORE
    deciding whether a key needs salting or AQE skew splitting. The
    per-key count is a map-side-combined aggregate; the top-K plans
    as TakeOrderedAndProject (per-partition heaps, K rows merged);
    the grand total is a 1-row broadcast. One double division per
    output row on integer-exact counts."""
    events = load(spark, sf_dir, "events")
    total = events.groupBy().agg(F.count("*").alias("total"))
    counts = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    return (
        counts.orderBy(F.desc("n_events"), "user_id")
        .limit(HEAVY_K)
        .join(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            (F.col("n_events").cast("double") / F.col("total").cast("double")).alias(
                "row_share"
            ),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


_HEAVY_SQL = f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
  ORDER BY n_events DESC, user_id LIMIT {HEAVY_K}
)
SELECT user_id, n_events,
       n_events::DOUBLE / (SELECT count(*) FROM events)::DOUBLE AS row_share
FROM counts
ORDER BY n_events DESC, user_id
"""


# Count-Min sketch geometry: 4 md5-derived hash rows × 256 buckets.
# Small on purpose so the test corpora actually exhibit collisions
# (overestimate > 0) — the audit has something to audit.
CMS_ROWS = 4
CMS_WIDTH = 256


def cms_bucket_structs() -> list:
    """The (r, bucket) struct per hash row for a user_id column —
    ONE definition shared by the batch audit and the streaming
    foreachBatch sink (streaming.sketch_state) so the sketch geometry
    can never drift between the two faces."""
    return [
        F.struct(
            F.lit(r).alias("r"),
            (h32(F.concat(F.lit(f"cm{r}:"), F.col("user_id"))) % CMS_WIDTH).alias(
                "bucket"
            ),
        )
        for r in range(CMS_ROWS)
    ]


def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit for the top-HEAVY_K heaviest users:
    exact event count vs the CMS estimate (min over CMS_ROWS hashed
    counters) and the collision overestimate. The frequency-sketch
    companion of the HLL distinct-sketch face
    (modern.hll_sketch_partition_union): CMS cells are mergeable by
    plain cell-wise addition, so a 100 TB pipeline materializes one
    CMS_ROWS×CMS_WIDTH integer grid per source/day and answers "how
    often does key k appear corpus-wide" by summing grids — never by
    rescanning. CMS guarantees estimate ≥ truth; the audit column
    shows the collision inflation at this tiny width.

    Cross-engine exactness: bucket hashes are md5-derived
    (llm.hashing convention), cells and estimates are integer sums
    and mins — bit-identical in DuckDB. Scale shape: ONE map-side
    combined per-user aggregate feeds both the sketch build (a
    CMS_ROWS×-explode of the per-user rollup, NOT of the raw
    events) and the exact top-K (TakeOrdered); the 1024-cell grid
    broadcasts to the probe join."""
    events = load(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    keyed = counts.select(
        "user_id", "n_events", F.explode(F.array(*cms_bucket_structs())).alias("rb")
    ).select("user_id", "n_events", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    cells = keyed.groupBy("r", "bucket").agg(F.sum("n_events").alias("cell"))
    return cms_report(counts, cells)


def cms_report(counts: DataFrame, cells: DataFrame) -> DataFrame:
    """The top-HEAVY_K exact-vs-estimate audit over any per-user
    (user_id, n_events) counts and (r, bucket, cell) CMS grid — ONE
    definition shared by the batch face above and the streaming
    foreachBatch face (streaming.sketch_state), whose contract is
    that the streamed grid reports IDENTICALLY to the batch one."""
    top = counts.orderBy(F.desc("n_events"), "user_id").limit(HEAVY_K)
    probe = top.select(
        "user_id", "n_events", F.explode(F.array(*cms_bucket_structs())).alias("rb")
    ).select("user_id", "n_events", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    return (
        probe.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "n_events")
        .agg(F.min("cell").alias("cms_estimate"))
        .select(
            "user_id",
            "n_events",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_events")).alias("overestimate"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


def _cms_bucket_sql(r: int) -> str:
    keyed = f"'cm{r}:' || user_id"
    return f"({h32_sql(keyed)} % {CMS_WIDTH})"


_CMS_SQL = f"""
WITH counts AS (
  SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY user_id
),
keyed AS (
  SELECT user_id, n_events, t.r,
         CASE t.r {" ".join(f"WHEN {r} THEN {_cms_bucket_sql(r)}" for r in range(CMS_ROWS))} END AS bucket
  FROM counts, UNNEST(range(0, {CMS_ROWS})) AS t(r)
),
cells AS (
  SELECT r, bucket, sum(n_events)::BIGINT AS cell FROM keyed GROUP BY 1, 2
),
top AS (
  SELECT user_id, n_events FROM counts
  ORDER BY n_events DESC, user_id LIMIT {HEAVY_K}
),
est AS (
  SELECT k.user_id, k.n_events, min(c.cell)::BIGINT AS cms_estimate
  FROM keyed k
  JOIN top USING (user_id)
  JOIN cells c ON c.r = k.r AND c.bucket = k.bucket
  GROUP BY 1, 2
)
SELECT user_id, n_events, cms_estimate,
       cms_estimate - n_events AS overestimate
FROM est
ORDER BY n_events DESC, user_id
"""



def selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-equijoin output-size estimation from the CMS grid — the
    AMS second-moment (F₂) trick a planner uses to predict a join's
    blow-up WITHOUT running it: the exact size of events ⋈ events on
    user_id is F₂ = Σ_u cnt(u)², and each CMS row's Σ_bucket cell² is
    an upper-bound estimate of it (collisions only inflate — same
    guarantee direction as the point estimate). Reported per sketch
    row: the row's estimate, the exact F₂, and the inflation in
    per-mille; min-over-rows is the planner's number. Skew is WHY a
    planner wants this number (a hot user inflates F₂ quadratically —
    the same pathology salted_join_revenue handles downstream).

    Cross-engine exactness: all-integer (counts, squares, sums; the
    DuckDB side casts its HUGEINT sums back to BIGINT). Scale: the
    same ONE map-side-combined per-user rollup the CMS face pays, a
    CMS_ROWS-explode of that rollup, and two tiny aggregates — the
    corpus is never self-joined; that is the point."""
    events = load(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    keyed = counts.select(
        "n_events", F.explode(F.array(*cms_bucket_structs())).alias("rb")
    ).select("n_events", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    cells = keyed.groupBy("r", "bucket").agg(F.sum("n_events").alias("cell"))
    # cell² on a hot bucket wraps int64 silently while the oracle's
    # BIGINT square ERRORS — widen one factor to DECIMAL(38,0) before
    # the square on both engines, then cast the (BIGINT-bounded by
    # contract) sums back (ADVICE r5 #2)
    per_row = cells.groupBy("r").agg(
        F.sum(F.col("cell").cast("decimal(38,0)") * F.col("cell"))
        .cast("bigint")
        .alias("f2_estimate")
    )
    exact = counts.agg(
        F.sum(F.col("n_events").cast("decimal(38,0)") * F.col("n_events"))
        .cast("bigint")
        .alias("exact_f2")
    )
    return (
        per_row.join(F.broadcast(exact))
        .select(
            F.col("r").cast("bigint").alias("r"),
            "f2_estimate",
            "exact_f2",
            F.expr("CAST(1000 * (f2_estimate - exact_f2) div exact_f2 AS BIGINT)").alias(
                "inflation_permille"
            ),
        )
        .orderBy("r")
    )


_F2_SQL = f"""
WITH counts AS (
  SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY user_id
),
keyed AS (
  SELECT n_events, t.r,
         CASE t.r {" ".join(f"WHEN {r} THEN {_cms_bucket_sql(r)}" for r in range(CMS_ROWS))} END AS bucket
  FROM counts, UNNEST(range(0, {CMS_ROWS})) AS t(r)
),
cells AS (
  SELECT r, bucket, sum(n_events)::BIGINT AS cell FROM keyed GROUP BY 1, 2
),
per_row AS (
  SELECT r, CAST(sum(cell::HUGEINT * cell) AS BIGINT) AS f2_estimate
  FROM cells GROUP BY r
),
exact AS (
  SELECT CAST(sum(n_events::HUGEINT * n_events) AS BIGINT) AS exact_f2 FROM counts
)
SELECT p.r::BIGINT AS r, p.f2_estimate, e.exact_f2,
       CAST(1000 * (p.f2_estimate - e.exact_f2) // e.exact_f2 AS BIGINT)
         AS inflation_permille
FROM per_row p, exact e
ORDER BY p.r
"""



BLOOM_BITS = 8192
BLOOM_HASHES = 3
BLOOM_PROBE_OFFSET = 1_000_000_000  # probe ids guaranteed non-members


def bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter audit — the sketch behind the runtime
    bloom join (plan-pinned elsewhere) as a first-class, measurable
    operator: build an m-bit, k-hash filter over the customer keys
    (bit positions are md5-derived, so the oracle reproduces the
    filter bit for bit), probe it with ids OFFSET past the key space
    (guaranteed non-members), and report the measured false-positive
    rate against the occupancy-based expectation (bits_set/m)^k —
    the calibration a planner needs before trusting a bloom
    pre-filter's selectivity. The expectation is carried as the exact
    integer ⌊1000·s^k/m^k⌋ (DECIMAL/HUGEINT cross-multiplication, no
    float pow).

    Scale: the filter is a ≤m-row distinct-position relation built
    with one key scan (mergeable by union — the per-partition build a
    cluster uses); probes join it on position and a probe is a false
    positive iff all k of its positions hit — a count equality, no
    bitmap type needed."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("key")
    )
    # the probe-ids-are-non-members invariant is only real if the key
    # space stays below the offset — fail loudly the day it doesn't
    cust = cust.withColumn(
        "key",
        F.when(
            F.col("key") >= BLOOM_PROBE_OFFSET,
            F.raise_error(F.lit("bloom probe offset overlaps the key space")),
        ).otherwise(F.col("key")),
    )
    def positions(df, idcol):
        # ONE scan: explode the k positions from a single projection
        # (a per-hash unionAll re-scanned the input k times)
        parts = [
            h32(F.concat(F.lit(f"bl{i}:"), F.col(idcol))) % BLOOM_BITS
            for i in range(BLOOM_HASHES)
        ]
        return df.select(
            F.col(idcol).alias("id"), F.explode(F.array(*parts)).alias("pos")
        )

    bloom = positions(cust, "key").select("pos").distinct()
    n_keys = cust.agg(F.count(F.lit(1)).alias("n_keys"))
    bits = bloom.agg(F.count(F.lit(1)).alias("bits_set"))
    probes = cust.select((F.col("key") + BLOOM_PROBE_OFFSET).alias("probe"))
    hits = (
        positions(probes, "probe")
        .join(bloom, "pos", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .agg(
            F.sum((F.col("k_hits") == BLOOM_HASHES).cast("bigint")).alias("n_fp")
        )
    )
    return (
        n_keys.crossJoin(F.broadcast(bits))
        .crossJoin(F.broadcast(hits))
        .select(
            F.lit(BLOOM_BITS).cast("bigint").alias("m_bits"),
            F.lit(BLOOM_HASHES).cast("bigint").alias("k_hashes"),
            "n_keys",
            "bits_set",
            F.col("n_keys").alias("n_probes"),
            F.coalesce("n_fp", F.lit(0)).alias("n_false_positives"),
            F.expr(
                "CAST(coalesce(1000 * coalesce(n_fp, 0) div nullif(n_keys, 0), 0)"
                " AS BIGINT)"
            ).alias("fp_permille"),
            F.expr(
                "CAST((1000 * CAST(bits_set AS DECIMAL(38,0))"
                + " * bits_set" * (BLOOM_HASHES - 1)
                + f") div (CAST({BLOOM_BITS} AS DECIMAL(38,0))"
                + f" * {BLOOM_BITS}" * (BLOOM_HASHES - 1)
                + ") AS BIGINT)"
            ).alias("expected_fp_permille"),
        )
    )


def _bloom_positions_sql(idexpr: str) -> str:
    legs = []
    for i in range(BLOOM_HASHES):
        h = h32_sql("'bl" + str(i) + ":' || " + idexpr)
        legs.append(
            "SELECT " + idexpr + " AS id, " + h + " % "
            + str(BLOOM_BITS) + " AS pos FROM base"
        )
    return " UNION ALL ".join(legs)


# exponent k derived from BLOOM_HASHES once, used by BOTH engines
_BLOOM_EXP_NUM = " * bits_set" * (BLOOM_HASHES - 1)
_BLOOM_EXP_DEN = (" * " + str(BLOOM_BITS)) * (BLOOM_HASHES - 1) + ")"

_BLOOM_SQL = f"""
WITH base AS (SELECT c_custkey::BIGINT AS key FROM customer),
bloom AS (
  SELECT DISTINCT pos FROM ({_bloom_positions_sql("key")})
),
probe_pos AS (
  SELECT id, pos FROM (
    {_bloom_positions_sql(f"(key + {BLOOM_PROBE_OFFSET})")}
  )
),
fp AS (
  SELECT count(*)::BIGINT AS n_fp FROM (
    SELECT p.id
    FROM probe_pos p JOIN bloom b ON b.pos = p.pos
    GROUP BY p.id
    HAVING count(*) = {BLOOM_HASHES}
  )
),
stats AS (
  SELECT (SELECT count(*) FROM base)::BIGINT AS n_keys,
         (SELECT count(*) FROM bloom)::BIGINT AS bits_set,
         (SELECT n_fp FROM fp) AS n_fp
)
SELECT {BLOOM_BITS}::BIGINT AS m_bits, {BLOOM_HASHES}::BIGINT AS k_hashes,
       n_keys, bits_set, n_keys AS n_probes,
       coalesce(n_fp, 0)::BIGINT AS n_false_positives,
       CAST(coalesce(1000 * coalesce(n_fp, 0) // nullif(n_keys, 0), 0) AS BIGINT) AS fp_permille,
       CAST((1000 * CAST(bits_set AS HUGEINT){_BLOOM_EXP_NUM})
            // (CAST({BLOOM_BITS} AS HUGEINT){_BLOOM_EXP_DEN} AS BIGINT)
         AS expected_fp_permille
FROM stats
"""


AQP_RATE_PCT = 10  # deterministic ~10% per-stratum sample


def aqp_stratified_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified approximate-query-processing estimator with its own
    error audit — the BlinkDB/Quickstep pattern: answer "total revenue
    by nation" from a ~10% per-stratum sample, carrying the finite-
    population standard error, and (because this face is an AUDIT)
    the realized error against the exact total. The sample is the
    hash-deterministic ``md5('aqp:'||orderkey) % 100 < 10`` slice —
    reproducible on both engines and stable under reshuffles, unlike
    TABLESAMPLE (the [[split_train_val_test]] doctrine applied to AQP).

    Exactness: the estimate N_h·Σx/n_h is an exact integer floor
    division over DECIMAL(38,0) sums; the realized error is exact
    per-mille; only the standard error (which carries a √) is a final
    IEEE DAG on exact sufficient statistics — and it uses the FPC
    form N_h²·(1−n_h/N_h)·s²_h/n_h, NULL below 2 sample rows.

    Scale: ONE pass over orders computes full and sample sufficient
    statistics together (the sample indicator is a projection, not a
    second scan); the nation key arrives via a broadcast dim join.
    25 strata rows do the rest."""
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    in_sample = (
        h32(F.concat(F.lit("aqp:"), F.col("o_orderkey").cast("string"))) % 100
        < AQP_RATE_PCT
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        load(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("in_s", in_sample)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.expr(f"sum(CAST({cents} AS DECIMAL(38,0)))").alias("s_full"),
            F.count_if(F.col("in_s")).alias("n_s"),
            F.expr(
                f"sum(CASE WHEN in_s THEN CAST({cents} AS DECIMAL(38,0)) ELSE 0 END)"
            ).alias("s_s"),
            F.expr(
                f"sum(CASE WHEN in_s THEN CAST({cents} AS DECIMAL(38,0)) * {cents}"
                f" ELSE 0 END)"
            ).alias("ss_s"),
        )
    )
    return per.select(
        "nation",
        F.col("n_full").cast("bigint").alias("n_orders"),
        F.col("n_s").cast("bigint").alias("n_sampled"),
        F.expr(
            "CASE WHEN n_s = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((CAST(n_full AS DECIMAL(38,0)) * s_s) div n_s AS BIGINT) END"
        ).alias("est_total_cents"),
        F.expr("CAST(s_full AS BIGINT)").alias("true_total_cents"),
        F.expr(
            "CASE WHEN n_s = 0 OR s_full = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((1000 * abs((CAST(n_full AS DECIMAL(38,0)) * s_s) div n_s"
            "            - s_full)) div s_full AS BIGINT) END"
        ).alias("err_pm"),
        F.expr(
            "CASE WHEN n_s < 2 THEN NULL ELSE"
            " sqrt((CAST(n_full AS DOUBLE) * n_full)"
            "      * (1.0 - CAST(n_s AS DOUBLE) / n_full)"
            "      * ((CAST(ss_s AS DOUBLE)"
            "          - (CAST(s_s AS DOUBLE) * CAST(s_s AS DOUBLE)) / n_s)"
            "         / (n_s - 1))"
            "      / n_s) END"
        ).alias("se_cents"),
    ).orderBy("nation")


def _aqp_oracle() -> str:
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    in_s = f"({h32_sql(chr(39) + 'aqp:' + chr(39) + ' || o_orderkey::VARCHAR')} % 100 < {AQP_RATE_PCT})"
    return f"""
WITH per AS (
  SELECT n_name AS nation,
         count(*)::BIGINT AS n_full,
         sum({cents}::HUGEINT) AS s_full,
         sum(CASE WHEN {in_s} THEN 1 ELSE 0 END)::BIGINT AS n_s,
         sum(CASE WHEN {in_s} THEN {cents}::HUGEINT ELSE 0 END) AS s_s,
         sum(CASE WHEN {in_s} THEN {cents}::HUGEINT * {cents} ELSE 0 END) AS ss_s
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT nation, n_full AS n_orders, n_s AS n_sampled,
       CASE WHEN n_s = 0 THEN NULL
            ELSE ((n_full::HUGEINT * s_s) // n_s)::BIGINT END AS est_total_cents,
       s_full::BIGINT AS true_total_cents,
       CASE WHEN n_s = 0 OR s_full = 0 THEN NULL
            ELSE ((1000 * abs((n_full::HUGEINT * s_s) // n_s - s_full))
                  // s_full)::BIGINT END AS err_pm,
       CASE WHEN n_s < 2 THEN NULL ELSE
         sqrt((CAST(n_full AS DOUBLE) * n_full)
              * (1.0 - CAST(n_s AS DOUBLE) / n_full)
              * ((CAST(ss_s AS DOUBLE)
                  - (CAST(s_s AS DOUBLE) * CAST(s_s AS DOUBLE)) / n_s)
                 / (n_s - 1))
              / n_s) END AS se_cents
FROM per
ORDER BY nation
"""


QUERIES = (
    (aqp_stratified_estimate, _aqp_oracle()),
    (salted_join_revenue, _SALTED_SQL),
    (heavy_hitter_users, _HEAVY_SQL),
    (countmin_heavy_hitters, _CMS_SQL),
    (selfjoin_size_estimate, _F2_SQL),
    (bloom_filter_fpr_audit, _BLOOM_SQL),
)
