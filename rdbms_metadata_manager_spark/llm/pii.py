"""PII detection + redaction — a mandatory scrub pass for any
training-data pipeline (emails/phones must not reach the model).

[beyond-reference] surface. The synthetic corpus carries no real
PII (ROADMAP round-1 note), so the operator would be vacuous run
raw over ``documents.text``; instead the query DETERMINISTICALLY
constructs PII-bearing contact notes from customer fields (name →
email, custkey → phone) and then runs the real detect/redact
kernel over them — the regex machinery, counts, and replacement
semantics are fully exercised and exactly oracled.

Cross-engine regex contract: patterns restricted to character
classes + bounded/unbounded greedy repetition, which behave
identically in Java regex (Spark, codegen'd) and RE2 (DuckDB);
DuckDB needs the 'g' flag to match Spark's replace-all default.

Scale: pure per-row projection — no shuffle except the display
sort; at 100 TB this runs at scan speed inside whole-stage codegen
(regexp_replace/regexp_extract_all are JVM intrinsics, no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load_spread

EMAIL_RX = "[a-z0-9.]+@[a-z0-9.]+"
PHONE_RX = "\\d{3}-\\d{4}"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer contact note → PII hit counts + redacted text."""
    customer = load_spread(spark, sf_dir, "customer", "c_custkey")
    note = F.concat(
        F.lit("please contact "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" about "),
        F.col("c_mktsegment"),
    )
    with_note = customer.select("c_custkey", note.alias("note"))
    return with_note.select(
        "c_custkey",
        F.size(F.regexp_extract_all("note", F.lit(EMAIL_RX), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("note", F.lit(PHONE_RX), 0)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("note", EMAIL_RX, "[EMAIL]"), PHONE_RX, "[PHONE]"
        ).alias("redacted"),
    ).orderBy("c_custkey")


_PII_SQL = f"""
WITH n AS (
  SELECT c_custkey,
         'please contact ' || lower(replace(c_name, '#', '.'))
           || '@example.com or call 555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
           || ' about ' || c_mktsegment AS note
  FROM customer
)
SELECT c_custkey,
       len(regexp_extract_all(note, '{EMAIL_RX}')) AS n_emails,
       len(regexp_extract_all(note, '{PHONE_RX}')) AS n_phones,
       regexp_replace(regexp_replace(note, '{EMAIL_RX}', '[EMAIL]', 'g'),
                      '{PHONE_RX}', '[PHONE]', 'g') AS redacted
FROM n
ORDER BY c_custkey
"""


K_ANON = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the re-identification
    counterpart to [[pii_redaction]]'s direct-identifier scrub: even with
    names removed, a record whose quasi-identifier combination
    (nation, market segment, coarse balance band) is shared by fewer
    than k individuals is re-identifiable by linkage. The standard
    privacy gate before releasing / training on user-derived tables:
    group by the quasi-identifier tuple, count equivalence classes
    below k, and report the share of records at risk.

    Quasi-identifiers: (c_nationkey, c_mktsegment,
    floor(c_acctbal / 1000)) — the band keeps the float column's
    contribution integer-exact cross-engine (IEEE division by a
    power-of-10 literal + floor is deterministic in both engines).

    Plan: ONE groupBy over the quasi-identifier tuple (map-side
    partial combine — the class relation is bounded by the QI-space
    cardinality, not the row count), then a single-row summary
    aggregate; integer per-mille for the at-risk share. At 100 TB
    this is scan + one thin shuffle, and the k<5 class list (not
    returned here) stays small enough to route to suppression."""
    customer = load_spread(spark, sf_dir, "customer", "c_custkey")
    return _k_anonymity(customer)


def _k_anonymity(customer: DataFrame) -> DataFrame:
    """The audit core over any customer-shaped relation (testable on
    hand-built frames)."""
    classes = customer.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("balance_band"),
    ).agg(F.count(F.lit(1)).alias("class_n"))
    small = F.col("class_n") < K_ANON
    at_risk = F.sum(F.when(small, F.col("class_n")).otherwise(F.lit(0)))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(small.cast("long")).alias("n_violating_classes"),
        at_risk.alias("n_records_at_risk"),
        F.expr(
            f"(1000 * sum(CASE WHEN class_n < {K_ANON} THEN class_n ELSE 0 END))"
            " div sum(class_n)"
        ).alias("at_risk_permille"),
    )


_K_ANON_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS balance_band,
         count(*) AS class_n
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT count(*)::BIGINT AS n_classes,
       sum(CASE WHEN class_n < {K_ANON} THEN 1 ELSE 0 END)::BIGINT AS n_violating_classes,
       sum(CASE WHEN class_n < {K_ANON} THEN class_n ELSE 0 END)::BIGINT AS n_records_at_risk,
       ((1000 * sum(CASE WHEN class_n < {K_ANON} THEN class_n ELSE 0 END)) // sum(class_n))::BIGINT
         AS at_risk_permille
FROM classes
"""


L_DIV = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure follow-up to
    [[k_anonymity_audit]]: a class can be k-anonymous yet leak the
    SENSITIVE attribute outright when every member shares one value
    (homogeneity attack). Here the quasi-identifiers are
    (c_nationkey, floor(c_acctbal/100)) and the sensitive attribute
    is c_mktsegment; a class is exposed when it carries fewer than
    L_DIV distinct segment values. Reports class counts, the corpus
    minimum l, and the per-mille of records in exposed classes — the
    release gate a privacy office actually signs off on. The band is
    finer than [[k_anonymity_audit]]'s (/100 vs /1000): l-diversity
    only discriminates where classes are small enough that segment
    homogeneity can occur (with the coarse band every class carries
    all 5 segments at every scale — a vacuous audit).

    Plan: one groupBy over the QI tuple with a count-distinct on the
    sensitive column (two-phase partial agg keyed (QI, segment), both
    relations bounded by QI-space × |segments|, not rows), then a
    single-row summary. At 100 TB: scan + two thin shuffles."""
    customer = load_spread(spark, sf_dir, "customer", "c_custkey")
    classes = customer.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 100).alias("balance_band"),
    ).agg(
        F.count(F.lit(1)).alias("class_n"),
        F.countDistinct("c_mktsegment").alias("l_val"),
    )
    exposed = F.col("l_val") < L_DIV
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(exposed.cast("long")).alias("n_exposed_classes"),
        F.sum(F.when(exposed, F.col("class_n")).otherwise(F.lit(0))).alias(
            "n_records_exposed"
        ),
        F.min("l_val").alias("min_l"),
        F.expr(
            f"(1000 * sum(CASE WHEN l_val < {L_DIV} THEN class_n ELSE 0 END))"
            " div sum(class_n)"
        ).alias("exposed_permille"),
    )


_L_DIV_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, floor(c_acctbal / 100) AS balance_band,
         count(*) AS class_n,
         count(DISTINCT c_mktsegment) AS l_val
  FROM customer
  GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_classes,
       sum(CASE WHEN l_val < {L_DIV} THEN 1 ELSE 0 END)::BIGINT AS n_exposed_classes,
       sum(CASE WHEN l_val < {L_DIV} THEN class_n ELSE 0 END)::BIGINT AS n_records_exposed,
       min(l_val)::BIGINT AS min_l,
       ((1000 * sum(CASE WHEN l_val < {L_DIV} THEN class_n ELSE 0 END)) // sum(class_n))::BIGINT
         AS exposed_permille
FROM classes
"""


DP_CLIP_Q = "0.99"  # clipping quantile (literal text, same in both engines)


def dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy sensitivity audit — the pre-noise step of
    any DP release/training pipeline (DP-SGD, private analytics): a
    user's maximum possible contribution to each aggregate determines
    the noise scale, so before choosing epsilon you measure the
    contribution distribution and the utility cost of clipping it.
    For each metric (per-user event count; per-user value-cents sum),
    reports max / median / p99 contribution and the integer per-mille
    of total mass a p99 clip would discard — the clip-vs-noise
    trade-off number the privacy review actually reads. Completes the
    privacy family: [[pii_redaction]] scrubs direct identifiers,
    [[k_anonymity_audit]]/[[l_diversity_audit]] gate re-identification,
    this calibrates the DP release.

    Exactness: contributions are integers (counts; floor-cent value
    ticks), quantiles are ``percentile_disc`` (actual data values, no
    interpolation), the loss share is integer per-mille — every cell
    bit-identical cross-engine.

    Scale: ONE groupBy(user) feeds both metrics; the stats are
    two tiny order-statistics aggregates over the per-user relation
    (≪ events) and the loss pass re-reads it with a 1-row broadcast
    clip. At 100 TB: the user rollup is the only event-sized shuffle —
    checkpointed, so its four consumers (2 stats + 2 loss legs) pay it
    ONCE, not per leg (the r7 tide audit found the re-derivation was
    this query's whole bench drift)."""
    events = load_spread(spark, sf_dir, "events", "event_id")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .localCheckpoint(eager=False)
    )
    legs = []
    for metric, col in (("event_count", "n_events"), ("value_cents_sum", "value_cents")):
        stats = per_user.agg(
            F.lit(metric).alias("metric"),
            F.count(F.lit(1)).alias("n_users"),
            F.max(col).cast("long").alias("max_contribution"),
            F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {col})")
            .cast("long")
            .alias("p50"),
            F.expr(f"percentile_disc({DP_CLIP_Q}) WITHIN GROUP (ORDER BY {col})")
            .cast("long")
            .alias("p99"),
        )
        loss = per_user.join(F.broadcast(stats.select(F.col("p99").alias("clip")))).agg(
            F.expr(
                f"CAST((1000 * sum(greatest({col} - clip, 0))) DIV sum({col}) AS BIGINT)"
            ).alias("clipped_loss_permille")
        )
        legs.append(stats.join(loss))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("metric")


_DP_SQL = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events GROUP BY user_id
),
s1 AS (
  SELECT 'event_count' AS metric, count(*)::BIGINT AS n_users,
         CAST(max(n_events) AS BIGINT) AS max_contribution,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events) AS BIGINT) AS p50,
         CAST(percentile_disc({DP_CLIP_Q}) WITHIN GROUP (ORDER BY n_events) AS BIGINT) AS p99
  FROM per_user
),
l1 AS (
  SELECT CAST((1000 * sum(greatest(n_events - p99, 0))) // sum(n_events) AS BIGINT)
           AS clipped_loss_permille
  FROM per_user, s1
),
s2 AS (
  SELECT 'value_cents_sum' AS metric, count(*)::BIGINT AS n_users,
         CAST(max(value_cents) AS BIGINT) AS max_contribution,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY value_cents) AS BIGINT) AS p50,
         CAST(percentile_disc({DP_CLIP_Q}) WITHIN GROUP (ORDER BY value_cents) AS BIGINT) AS p99
  FROM per_user
),
l2 AS (
  SELECT CAST((1000 * sum(greatest(value_cents - p99, 0))) // sum(value_cents) AS BIGINT)
           AS clipped_loss_permille
  FROM per_user, s2
)
SELECT * FROM (
  SELECT s1.*, l1.clipped_loss_permille FROM s1, l1
  UNION ALL
  SELECT s2.*, l2.clipped_loss_permille FROM s2, l2
)
ORDER BY metric
"""



T_CLOSE_PERMILLE = 500  # TVD threshold: class "far" when > 0.5


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the distribution-skew follow-up that
    completes the [[k_anonymity_audit]] → [[l_diversity_audit]]
    ladder: a class can be k-anonymous AND l-diverse yet still leak
    (an attacker learns the sensitive attribute's SKEW — "this class
    is 90% BUILDING" — even when every value appears once). For the
    categorical sensitive attribute the distance is total variation:
    TVD(class) = ½ Σ_s |p_class(s) − p_global(s)|, carried as the
    exact integer per-mille ⌊1000·Σ|cnt_c(s)·N − cnt_g(s)·n_c| /
    (2·n_c·N)⌋ — no float distributions to drift cross-engine.
    Same QI banding as the l-diversity face (/100; the /1000 band is
    vacuous — every class matches the global mix). Reports class
    counts, worst TVD, and the per-mille of records in far classes.

    Plan: ONE (QI, segment) rollup (checkpointed — four consumers),
    one ≤|segments|-row global rollup
    broadcast and CROSSED against the class relation (absent segments
    must still contribute |0 − p_g| — a plain join would silently
    drop them), then the class-level fold. Every relation after the
    first rollup is bounded by QI-space × |segments|, never rows."""
    customer = load_spread(spark, sf_dir, "customer", "c_custkey")
    # four consumers (classes, global mix, total, probe join) derive
    # from this rollup: localCheckpoint so the corpus is scanned ONCE
    # and the QI-bounded cells relation feeds all of them (review r5
    # finding — without it Catalyst plans four independent scans)
    cells = (
        customer.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 100).alias("balance_band"),
            "c_mktsegment",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    classes = cells.groupBy("c_nationkey", "balance_band").agg(
        F.sum("cnt").alias("class_n")
    )
    glob = cells.groupBy("c_mktsegment").agg(F.sum("cnt").alias("gcnt"))
    total = glob.agg(F.sum("gcnt").alias("n_total"))
    spine = classes.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(total))
    # cnt·N and gcnt·n_c are count×count products: at 100 TB they wrap
    # int64 silently while the DuckDB oracle carries them in HUGEINT —
    # widen one factor to DECIMAL(38,0) BEFORE the product (the
    # _cusum_report pattern) so both engines stay exact (ADVICE r5 #1)
    scored = (
        spine.join(cells, ["c_nationkey", "balance_band", "c_mktsegment"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .groupBy("c_nationkey", "balance_band", "class_n", "n_total")
        .agg(
            F.sum(
                F.abs(
                    F.col("cnt").cast("decimal(38,0)") * F.col("n_total")
                    - F.col("gcnt").cast("decimal(38,0)") * F.col("class_n")
                )
            ).alias("l1")
        )
        .select(
            "class_n",
            F.expr(
                "CAST((1000 * l1)"
                " div (2 * CAST(class_n AS DECIMAL(38,0)) * n_total) AS BIGINT)"
            ).alias("tvd_permille"),
        )
    )
    far = F.col("tvd_permille") > T_CLOSE_PERMILLE
    return scored.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(far.cast("long")).alias("n_far_classes"),
        F.max("tvd_permille").alias("max_tvd_permille"),
        F.expr(
            "CAST((1000 * sum(CASE WHEN tvd_permille >"
            f" {T_CLOSE_PERMILLE} THEN CAST(class_n AS DECIMAL(38,0)) ELSE 0 END))"
            " div sum(class_n) AS BIGINT)"
        ).alias("far_records_permille"),
    )


_T_CLOSE_SQL = f"""
WITH cells AS (
  SELECT c_nationkey, floor(c_acctbal / 100) AS balance_band, c_mktsegment,
         count(*)::BIGINT AS cnt
  FROM customer GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, balance_band, sum(cnt)::BIGINT AS class_n
  FROM cells GROUP BY 1, 2
),
gdist AS (SELECT c_mktsegment, sum(cnt)::BIGINT AS gcnt FROM cells GROUP BY 1),
total AS (SELECT sum(gcnt)::BIGINT AS n_total FROM gdist),
scored AS (
  SELECT cl.class_n,
         CAST((1000 * sum(abs(coalesce(ce.cnt, 0)::HUGEINT * t.n_total
                              - g.gcnt::HUGEINT * cl.class_n)))
              // (2 * cl.class_n::HUGEINT * t.n_total) AS BIGINT) AS tvd_permille
  FROM classes cl CROSS JOIN gdist g CROSS JOIN total t
  LEFT JOIN cells ce
    ON ce.c_nationkey = cl.c_nationkey AND ce.balance_band = cl.balance_band
   AND ce.c_mktsegment = g.c_mktsegment
  GROUP BY cl.c_nationkey, cl.balance_band, cl.class_n, t.n_total
)
SELECT count(*)::BIGINT AS n_classes,
       sum(CASE WHEN tvd_permille > {T_CLOSE_PERMILLE} THEN 1 ELSE 0 END)::BIGINT
         AS n_far_classes,
       max(tvd_permille)::BIGINT AS max_tvd_permille,
       CAST((1000 * sum(CASE WHEN tvd_permille > {T_CLOSE_PERMILLE} THEN class_n ELSE 0 END))
            // sum(class_n) AS BIGINT) AS far_records_permille
FROM scored
"""


QUERIES = (
    (pii_redaction, _PII_SQL),
    (k_anonymity_audit, _K_ANON_SQL),
    (l_diversity_audit, _L_DIV_SQL),
    (dp_sensitivity_audit, _DP_SQL),
    (t_closeness_audit, _T_CLOSE_SQL),
)
