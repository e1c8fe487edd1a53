"""Streaming incremental-distinct via mergeable HLL sketch state —
the streaming face of `queries/modern.py::hll_sketch_partition_union`.
Distinct counts are the canonical NON-additive aggregate, and the
mergeable sketch is the production answer: state per key is a fixed
~2^lgK bytes regardless of how many ids were seen.

[beyond-reference] SURVEY.md §2.2 streaming surface. The query stages
``documents`` as a 3-file source drained one file per micro-batch
(`maxFilesPerTrigger=1`), and a ``foreachBatch`` sink folds each
batch's per-source `hll_sketch_agg` into a parquet state table with
`hll_union_agg` — the state never stores ids, only sketch binaries,
so a month of stream is the same state size as an hour. The emitted
report joins the final state against the batch-exact distinct counts:
`approx_ok` certifies the streamed union landed within the sketch's
documented band (lgConfigK=12, flag at ~3σ = 5%), and the oracle
emits the same exact counts with literal TRUE — any regression in
the state loop (lost batch, double merge poisoning an estimate,
binary corruption through the parquet round-trip) breaks the flag.

Scale: per batch one map-side-combinable sketch aggregate over the
batch plus a union over (state ∪ batch) keyed by source — state rows
= number of sources, not number of documents. The swap is
write-to-next-then-replace, the same crash posture as the
incremental-agg sink's backup-aside swap (state_v{N} dirs; the
latest complete version wins on restart).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.base import load
from .stream_dedup import _drain

LG_K = 12
HLL_BAND = 0.05  # ~3 sigma at lgConfigK=12 (rsd ~= 1.6%)


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tempfile.mkdtemp(prefix="stream_hll_")
    src = os.path.join(d, "src")
    state_root = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_root)
    try:
        base = load(spark, sf_dir, "documents")
        base.repartition(3).write.parquet(src)

        def _latest_state() -> DataFrame | None:
            versions = sorted(
                (p for p in os.listdir(state_root) if p.startswith("state_v")),
                key=lambda p: int(p.rsplit("v", 1)[1]),
            )
            if not versions:
                return None
            return spark.read.parquet(os.path.join(state_root, versions[-1]))

        def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_sk = batch_df.groupBy("source").agg(
                F.expr(f"hll_sketch_agg(text, {LG_K})").alias("sk")
            )
            prev = _latest_state()
            merged = (
                batch_sk
                if prev is None
                else prev.unionByName(batch_sk)
                .groupBy("source")
                .agg(F.expr("hll_union_agg(sk, false)").alias("sk"))
            )
            merged.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(state_root, f"state_v{batch_id}")
            )

        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, "streaming_hll_distinct")

        state = _latest_state()
        assert state is not None, "stream drained without producing state"
        # one state version per micro-batch: the literal 3 in the
        # oracle pins that maxFilesPerTrigger=1 really produced three
        # batches (a single-batch collapse would prove nothing about
        # cross-batch union)
        n_batches = len([p for p in os.listdir(state_root) if p.startswith("state_v")])
        per_source = state.select(
            F.col("source").alias("scope"), F.expr("hll_sketch_estimate(sk)").alias("est")
        )
        all_row = state.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias("est")
        ).select(F.lit("ALL").alias("scope"), "est")
        exact = (
            base.groupBy(F.col("source").alias("scope"))
            .agg(F.countDistinct("text").alias("exact_docs"))
            .unionByName(
                base.agg(F.countDistinct("text").alias("exact_docs")).select(
                    F.lit("ALL").alias("scope"), "exact_docs"
                )
            )
        )
        result = (
            exact.join(per_source.unionByName(all_row), "scope")
            .select(
                "scope",
                "exact_docs",
                (
                    F.abs(F.col("est") - F.col("exact_docs"))
                    <= HLL_BAND * F.col("exact_docs")
                ).alias("approx_ok"),
                F.lit(n_batches).cast("bigint").alias("n_batches"),
            )
            .orderBy("scope")
            # materialize before the staging dir is deleted
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


_STREAM_HLL_SQL = """
SELECT source AS scope, count(DISTINCT text)::BIGINT AS exact_docs, TRUE AS approx_ok,
       3::BIGINT AS n_batches
FROM documents GROUP BY source
UNION ALL
SELECT 'ALL', count(DISTINCT text)::BIGINT, TRUE, 3::BIGINT FROM documents
ORDER BY scope
"""


def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min: the frequency-sketch sibling of
    [[streaming_hll_distinct]], built over ``events`` drained one
    file per micro-batch with a ``foreachBatch`` sink folding each
    batch's CMS cells into the state grid by cell-wise ADDITION.

    The contract is STRONGER than the HLL face's tolerance band:
    CMS cells are exactly additive, so the streamed state must equal
    the batch-built sketch BIT-FOR-BIT — the emitted report is the
    same top-K audit as ``queries.skew.countmin_heavy_hitters`` (per
    heavy user: exact count, CMS estimate, collision overestimate)
    plus the batch count, and the oracle recomputes the full sketch
    in SQL. Any lost batch, double merge, or geometry drift between
    the batch and streaming faces shifts a cell and breaks the hash.

    Scale: state is the fixed CMS_ROWS×CMS_WIDTH integer grid
    regardless of stream length; each micro-batch contributes one
    map-side-combined per-user rollup and a grid-sized union-sum.
    Same write-next-then-replace state versioning as the HLL face."""
    from ..queries.skew import cms_bucket_structs, cms_report

    d = tempfile.mkdtemp(prefix="stream_cms_")
    src = os.path.join(d, "src")
    state_root = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_root)
    try:
        base = load(spark, sf_dir, "events")
        base.repartition(3).write.parquet(src)

        def _latest_state() -> DataFrame | None:
            versions = sorted(
                (p for p in os.listdir(state_root) if p.startswith("state_v")),
                key=lambda p: int(p.rsplit("v", 1)[1]),
            )
            if not versions:
                return None
            return spark.read.parquet(os.path.join(state_root, versions[-1]))

        def _batch_cells(df: DataFrame) -> DataFrame:
            counts = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            return (
                counts.select("n", F.explode(F.array(*cms_bucket_structs())).alias("rb"))
                .select("n", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
                .groupBy("r", "bucket")
                .agg(F.sum("n").alias("cell"))
            )

        def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_cells = _batch_cells(batch_df)
            prev = _latest_state()
            merged = (
                batch_cells
                if prev is None
                else prev.unionByName(batch_cells)
                .groupBy("r", "bucket")
                .agg(F.sum("cell").alias("cell"))
            )
            merged.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(state_root, f"state_v{batch_id}")
            )

        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, "streaming_cms_heavy_hitters")

        cells = _latest_state()
        assert cells is not None, "stream drained without producing state"
        n_batches = len([p for p in os.listdir(state_root) if p.startswith("state_v")])
        counts = base.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        result = (
            cms_report(counts, cells)  # the batch face's report, verbatim
            .withColumn("n_batches", F.lit(n_batches).cast("bigint"))
            .localCheckpoint(eager=True)  # materialize before staging dir dies
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


def _stream_cms_sql() -> str:
    from ..queries.skew import _CMS_SQL

    # the streamed state must equal the batch sketch exactly, so the
    # oracle IS the batch oracle plus the pinned 3-batch count
    body = _CMS_SQL.replace(
        "SELECT user_id, n_events, cms_estimate,\n       cms_estimate - n_events AS overestimate",
        "SELECT user_id, n_events, cms_estimate,\n"
        "       cms_estimate - n_events AS overestimate,\n"
        "       3::BIGINT AS n_batches",
    )
    assert "n_batches" in body, "oracle splice failed"
    return body


# ---------------------------------------------------------------------------
# Mergeable quantile state (the percentile member of the sketch-state
# trilogy: HLL = distinct, CMS = frequency, this = rank).
# ---------------------------------------------------------------------------

QK_CAPACITY = 4096  # per-(key, level) compactor capacity
QK_LEVELS_BOUND = 10  # covers n/key up to ~2^8 * capacity (≈1M rows/key)
QK_PS = (50, 90, 99)


def _compact_levels(df: DataFrame) -> DataFrame:
    """KLL-style level compaction (Karnin–Lang–Liberty, FOCS'16
    shape) over a (flag, level, v) relation: while any (flag, level)
    holds more than QK_CAPACITY items, sort it, promote the odd ranks
    of the even-length prefix to level+1 (weight doubles: an item at
    level l represents 2^l original rows), keep the ≤1 remainder row
    at the current level. Deterministic (odd-rank rule, no RNG): ties
    in v are interchangeable, so the kept multiset is a pure function
    of the input multiset — which is what lets the multi-batch and
    one-shot builds be compared at all. Total weight is preserved
    exactly, so Σ 2^level over the state always equals the row count.

    Rank-error bound (drives the report's approx_ok band): each
    compaction at level l perturbs any rank estimate by ≤ 2^l and
    consumes ≥ QK_CAPACITY·2^l mass, so total error ≤ L·n/CAPACITY
    with L ≤ QK_LEVELS_BOUND levels.

    Scale: state per key is ≤ CAPACITY·L rows regardless of stream
    length; each pass is one windowed rank partitioned by the SAME
    (flag, level) key it shuffles on. localCheckpoint per round keeps
    the loop's plan linear (clustering.py:41's fixpoint discipline)."""
    from pyspark.sql import Window

    cur = df.localCheckpoint(eager=True)
    for _ in range(2 * QK_LEVELS_BOUND):
        counted = cur.withColumn(
            "m", F.count("*").over(Window.partitionBy("flag", "level"))
        )
        if counted.filter(F.col("m") > QK_CAPACITY).isEmpty():
            return cur
        under = counted.filter(F.col("m") <= QK_CAPACITY).select("flag", "level", "v")
        ranked = (
            counted.filter(F.col("m") > QK_CAPACITY)
            .withColumn(
                "rk", F.row_number().over(Window.partitionBy("flag", "level").orderBy("v"))
            )
            .withColumn("m2", (F.col("m") - F.col("m") % 2))
        )
        promoted = ranked.filter(
            (F.col("rk") <= F.col("m2")) & (F.col("rk") % 2 == 1)
        ).select("flag", (F.col("level") + 1).alias("level"), "v")
        remainder = ranked.filter(F.col("rk") > F.col("m2")).select("flag", "level", "v")
        cur = under.unionByName(promoted).unionByName(remainder).localCheckpoint(
            eager=True
        )
    raise RuntimeError("quantile compaction did not converge")  # pragma: no cover


def _quantile_targets(n_col: str) -> dict[int, str]:
    """ceil(p·n/100) as exact integer SQL (both engines truncate —
    see quality_scorer_agreement's canonical statement)."""
    return {p: f"(({p} * {n_col}) + 99) div 100" for p in QK_PS}


def quantile_report(
    spark: SparkSession, base: DataFrame, state: DataFrame, n_batches: int
) -> DataFrame:
    """The emitted QA report: per key the EXACT p50/p90/p99 (value at
    rank ceil(p·n/100) — no interpolation, so the value is a raw data
    point both engines read identically from parquet) plus approx_ok
    certifying the sketch estimate's rank lands within the
    deterministic compaction band 8 + 2·L·n/CAPACITY. The oracle emits
    the same exact values with literal TRUE — a lost batch, double
    merge, or weight drift in the state loop moves the estimate out of
    band and breaks the flag (same posture as the HLL face)."""
    from pyspark.sql import Window

    weighted = state.withColumn("wt", F.expr("shiftleft(1L, level)").cast("bigint"))
    totals = weighted.groupBy("flag").agg(F.sum("wt").alias("n"))
    cum = weighted.withColumn(
        "cw",
        F.sum("wt").over(
            Window.partitionBy("flag").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).join(totals, "flag")
    ests = None
    for p, tgt in _quantile_targets("n").items():
        e = (
            cum.filter(F.col("cw") >= F.expr(tgt))
            .groupBy("flag")
            .agg(F.min("v").alias(f"est_p{p}"))
        )
        ests = e if ests is None else ests.join(e, "flag")

    ranked = base.withColumn(
        "r", F.row_number().over(Window.partitionBy("flag").orderBy("v"))
    ).withColumn("n", F.count("*").over(Window.partitionBy("flag")))
    tgts = _quantile_targets("n")
    j = ranked.join(F.broadcast(ests), "flag")
    band = F.expr(f"8 + (2 * {QK_LEVELS_BOUND} * n) div {QK_CAPACITY}")
    aggs = [F.max("n").cast("bigint").alias("n_rows")]
    ok = F.lit(True)
    for p in QK_PS:
        aggs.append(F.max(F.when(F.expr(f"r = {tgts[p]}"), F.col("v"))).alias(f"exact_p{p}"))
        aggs.append(F.count_if(F.col("v") < F.col(f"est_p{p}")).alias(f"_lo{p}"))
        aggs.append(F.count_if(F.col("v") <= F.col(f"est_p{p}")).alias(f"_hi{p}"))
        aggs.append(F.max(F.expr(f"{tgts[p]}")).alias(f"_t{p}"))
        aggs.append(F.max(band).alias(f"_b{p}"))
        ok = (
            ok
            & (F.col(f"_hi{p}") >= F.col(f"_t{p}") - F.col(f"_b{p}"))
            & (F.col(f"_lo{p}") <= F.col(f"_t{p}") + F.col(f"_b{p}"))
        )
    return (
        j.groupBy("flag")
        .agg(*aggs)
        .select(
            "flag",
            "n_rows",
            *[F.col(f"exact_p{p}") for p in QK_PS],
            ok.alias("approx_ok"),
            F.lit(n_batches).cast("bigint").alias("n_batches"),
        )
        .orderBy("flag")
    )


def streaming_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable quantiles: ``lineitem`` prices keyed by
    return flag, staged as a 3-file source drained one file per
    micro-batch; ``foreachBatch`` appends the batch at level 0 and
    re-compacts into versioned parquet state (write-next-then-replace,
    like the HLL/CMS faces). State per key is ≤ CAPACITY·levels rows
    — a month of stream is the same state size as an hour — and in
    the sub-capacity regime (n ≤ CAPACITY per key) no compaction ever
    fires, the state IS the data, and the estimator is EXACT (the
    regime the oracle pins, same doctrine as approx_topk_event_types).
    Above capacity the deterministic KLL band takes over (see
    ``_compact_levels``); at sf0.01 (~20k rows/key) compaction
    genuinely engages, so the driver window exercises the lossy path,
    not just the trivial one."""
    d = tempfile.mkdtemp(prefix="stream_qk_")
    src = os.path.join(d, "src")
    state_root = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_root)
    try:
        base = load(spark, sf_dir, "lineitem").select(
            F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("v")
        )
        base.repartition(3).write.parquet(src)

        def _latest_state() -> DataFrame | None:
            versions = sorted(
                (p for p in os.listdir(state_root) if p.startswith("state_v")),
                key=lambda p: int(p.rsplit("v", 1)[1]),
            )
            if not versions:
                return None
            return spark.read.parquet(os.path.join(state_root, versions[-1]))

        def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            lvl0 = batch_df.select("flag", F.lit(0).alias("level"), "v")
            prev = _latest_state()
            merged = lvl0 if prev is None else prev.unionByName(lvl0)
            _compact_levels(merged).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(state_root, f"state_v{batch_id}")
            )

        q = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(_merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, "streaming_quantile_state")

        state = _latest_state()
        assert state is not None, "stream drained without producing state"
        n_batches = len([p for p in os.listdir(state_root) if p.startswith("state_v")])
        result = quantile_report(spark, base, state, n_batches).localCheckpoint(
            eager=True  # materialize before the staging dir is deleted
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return result


_STREAM_QUANTILE_SQL = """
WITH ranked AS (
  SELECT l_returnflag AS flag, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS r,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT flag,
       max(n)::BIGINT AS n_rows,
       max(CASE WHEN r = ((50 * n) + 99) // 100 THEN v END) AS exact_p50,
       max(CASE WHEN r = ((90 * n) + 99) // 100 THEN v END) AS exact_p90,
       max(CASE WHEN r = ((99 * n) + 99) // 100 THEN v END) AS exact_p99,
       TRUE AS approx_ok,
       3::BIGINT AS n_batches
FROM ranked
GROUP BY flag
ORDER BY flag
"""


QUERIES = (
    (streaming_hll_distinct, _STREAM_HLL_SQL),
    (streaming_cms_heavy_hitters, _stream_cms_sql()),
    (streaming_quantile_state, _STREAM_QUANTILE_SQL),
)
