"""Entity resolution: fuzzy name matching via deletion-neighborhood
blocking (SymSpell-style).

[beyond-reference] the record-linkage operator every ingest pipeline
needs (the reference only ever compares column *names* to literal
lists, app.py:54-97 — no fuzzy matching anywhere). Dirty records are
constructed deterministically from ``customer`` (one digit deleted
from the name's 9-digit payload at a hash-chosen position, mirroring
``pii.py``'s build-the-fixture-from-the-fixture trick), then linked
back to the clean directory.

The algorithm is the classic scalable ER shape:
1. **Blocking** — the clean directory is expanded into its
   single-deletion neighborhood (9 variants per name, deduped), and
   dirty names equi-join that index EXACTLY. This is the symmetric-
   delete trick (SymSpell): candidate generation becomes a plain
   hash join with guaranteed recall for the edit model, instead of a
   similarity cross join. Naive prefix blocking degenerates on this
   data (every key shares leading zeros → quadratic candidates);
   the deletion index stays linear: L variants per directory row.
2. **Verification** — exact ``levenshtein`` on the candidates only
   (JVM codegen built-in in Spark; same classic DP definition in
   DuckDB, so the oracle agrees).
3. **Survivorship** — best match per dirty record by
   (distance, match key) via one row_number window.

Scale: the variant index is directory-sized x name-length — still a
dimension table; here it broadcasts, and past the broadcast threshold
the same plan is a shuffle equi-join on the variant key (hash the
variant to 8 bytes to shrink the exchange). The big dirty side is
never replicated and never self-joined; the only wide-side shuffle is
the final per-dirty-record window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.base import load
from .hashing import h32, h32_sql

DIRTY_MOD = 3  # 1/3 of customers get a dirtied variant
NAME_DIGITS = 9  # digit payload width of c_name
MAX_DISTANCE = 1  # single-deletion edit model


def entity_match_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link deterministically-dirtied customer names back to the
    clean directory: deletion-neighborhood blocking, levenshtein
    verify, best-match survivorship."""
    customers = load(spark, sf_dir, "customer")
    digits = F.substring("c_name", 10, NAME_DIGITS)

    del_pos = h32(F.concat(F.lit("erpos:"), F.col("c_custkey").cast("string"))) % NAME_DIGITS + 1
    picked = customers.filter(
        h32(F.concat(F.lit("erdirty:"), F.col("c_custkey").cast("string"))) % DIRTY_MOD == 0
    ).select("c_custkey", digits.alias("digits"), del_pos.alias("del_pos"))
    dirty = picked.select(
        F.col("c_custkey").alias("dirty_custkey"),
        F.concat(
            F.lit("Customer#"),
            F.expr(f"substring(digits, 1, del_pos - 1) || substring(digits, del_pos + 1, {NAME_DIGITS})"),
        ).alias("dirty_name"),
        F.expr(f"substring(digits, 1, del_pos - 1) || substring(digits, del_pos + 1, {NAME_DIGITS})").alias(
            "dirty_digits"
        ),
    )

    variants = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.lit(NAME_DIGITS)),
            lambda p: F.concat(
                F.substring(F.col("clean_digits"), F.lit(1), p - F.lit(1)),
                F.substring(F.col("clean_digits"), p + F.lit(1), F.lit(NAME_DIGITS)),
            ),
        )
    )
    index = customers.select(
        F.col("c_custkey").alias("match_custkey"),
        F.col("c_name").alias("match_name"),
        digits.alias("clean_digits"),
    ).select(
        "match_custkey", "match_name", F.explode(variants).alias("variant_digits")
    )

    # Build side = the DIRTY relation (|customer|/3 slim rows), not the
    # deletion index (L×|customer| exploded rows): same equi-join, same
    # rows out, but the broadcast build collects ~27× fewer rows and the
    # exploded index streams instead of being collected to the driver
    # (guide §3.1: broadcast the side that is actually small).
    candidates = index.join(
        F.broadcast(dirty), F.col("dirty_digits") == F.col("variant_digits")
    ).select("dirty_custkey", "dirty_name", "match_custkey", "match_name")
    verified = candidates.withColumn(
        "distance", F.levenshtein("dirty_name", "match_name")
    ).filter(F.col("distance") <= MAX_DISTANCE)
    w = Window.partitionBy("dirty_custkey").orderBy("distance", "match_custkey")
    return (
        verified.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("dirty_custkey", "dirty_name", "match_custkey", "match_name", "distance")
        .orderBy("dirty_custkey")
    )


_ENTITY_SQL = f"""
WITH dirty AS (
  SELECT c_custkey AS dirty_custkey,
         'Customer#' || substr(digits, 1, del_pos - 1) || substr(digits, del_pos + 1, {NAME_DIGITS})
           AS dirty_name,
         substr(digits, 1, del_pos - 1) || substr(digits, del_pos + 1, {NAME_DIGITS}) AS dirty_digits
  FROM (
    SELECT c_custkey, substr(c_name, 10, {NAME_DIGITS}) AS digits,
           {h32_sql("'erpos:' || c_custkey::VARCHAR")} % {NAME_DIGITS} + 1 AS del_pos
    FROM customer
    WHERE {h32_sql("'erdirty:' || c_custkey::VARCHAR")} % {DIRTY_MOD} = 0
  )
),
idx AS (
  SELECT c_custkey AS match_custkey, c_name AS match_name,
         unnest(list_distinct(list_transform(range(1, {NAME_DIGITS + 1}),
             p -> substr(substr(c_name, 10, {NAME_DIGITS}), 1, p - 1)
                  || substr(substr(c_name, 10, {NAME_DIGITS}), p + 1, {NAME_DIGITS}))))
           AS variant_digits
  FROM customer
),
verified AS (
  SELECT d.dirty_custkey, d.dirty_name, i.match_custkey, i.match_name,
         levenshtein(d.dirty_name, i.match_name) AS distance
  FROM dirty d JOIN idx i ON d.dirty_digits = i.variant_digits
  WHERE levenshtein(d.dirty_name, i.match_name) <= {MAX_DISTANCE}
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY dirty_custkey ORDER BY distance, match_custkey) AS rk
  FROM verified
)
SELECT dirty_custkey, dirty_name, match_custkey, match_name, distance
FROM ranked WHERE rk = 1
ORDER BY dirty_custkey
"""


QUERIES = ((entity_match_fuzzy_names, _ENTITY_SQL),)
