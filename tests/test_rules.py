"""Rule-parity tests (SURVEY.md §5.2 items 1-2).

Golden: the ecommerce_db fixture must yield exactly the 18-issue
current-code set (``GOLDEN_18`` below explains why FIXTURES.md §1.5's
19 is one too many); quirks_db exercises every semantic trap from
SURVEY.md §2.3.
"""

from __future__ import annotations

import pytest

from rdbms_metadata_manager_spark.catalog import fixtures
from rdbms_metadata_manager_spark.rules import detect_schema_flaws


@pytest.fixture(scope="module")
def ecommerce(spark):
    return (
        fixtures.columns_meta(spark, "ecommerce_db"),
        fixtures.indexes_meta(spark, "ecommerce_db"),
        fixtures.foreign_keys_meta(spark, "ecommerce_db"),
    )


@pytest.fixture(scope="module")
def quirks(spark):
    return (
        fixtures.columns_meta(spark, "quirks_db"),
        fixtures.indexes_meta(spark, "quirks_db"),
        fixtures.foreign_keys_meta(spark, "quirks_db"),
    )


# The canonical golden set under faithful app.py semantics, as
# (table, column, rule_id) sorted tuples. NOTE: FIXTURES.md §1.5
# claims 19 issues including Rule 3 on Reviews.rating via
# "'rate' ⊆ 'rating'", but 'rate' is NOT a contiguous substring of
# 'rating' ('rati' != 'rate'), so `any(kw in name)` at reference
# app.py:66-67 does not fire — matching the golden CSV, which also
# lacks that row. The faithful golden is these 18 issues.
GOLDEN_18 = sorted(
    [
        ("Users", "username", 1),
        ("Products", "product_name", 1),
        ("users_teste", "username", 1),
        ("users_teste", "email", 1),
        ("orders_teste", "user_id", 2),
        ("Products", "price", 3),
        ("Order_Items", "price", 3),
        ("Products", "created_at", 4),
        ("Reviews", "rating", 4),
        ("Users", "email", 5),
        ("Products", "price", 5),
        ("Orders", "order_date", 5),
        ("Orders", "total_amount", 5),
        ("Order_Items", "price", 5),
        ("Reviews", "rating", 5),
        ("orders_teste", "order_date", 5),
        ("orders_teste", "total_amount", 5),
        ("users_teste", "email", 5),
    ]
)


def test_golden_18_issues(ecommerce):
    issues = detect_schema_flaws(*ecommerce)
    got = sorted((r["table"], r["column"], r["rule_id"]) for r in issues.collect())
    assert got == GOLDEN_18


def test_issue_messages_match_reference(ecommerce):
    """Exact f-string parity with reference app.py:45-105, including
    Rule 2's trailing space (app.py:61-62)."""
    issues = {(r["table"], r["column"], r["rule_id"]): r for r in detect_schema_flaws(*ecommerce).collect()}

    r1 = issues[("Users", "username", 1)]
    assert r1["issue_type"] == "Query performance - missing index"
    assert r1["issue"] == "Large VARCHAR column 'username' in 'Users' is not indexed."
    assert r1["recommendation"] == "Add an index on 'Users(username)' to improve query performance."

    r2 = issues[("orders_teste", "user_id", 2)]
    assert r2["issue_type"] == "Normalization - Data integrity"
    assert r2["issue"] == "Potential foreign key column 'user_id' is not properly defined."
    assert r2["recommendation"] == (
        "Define a foreign key constraint and index for 'user_id' referencing "
        "the appropriate table and add the correct kind of index. "
    )

    r3 = issues[("Products", "price", 3)]
    assert r3["issue"] == "Monetary column 'price' is of type 'FLOAT', expected DECIMAL or NUMERIC."
    assert r3["recommendation"] == (
        "Consider changing the column 'Products(price)' to DECIMAL or NUMERIC for "
        "better precision in monetary calculations."
    )

    r4 = issues[("Products", "created_at", 4)]
    assert r4["issue"] == "Column 'created_at' has type 'DATE', expected 'DATETIME'."
    assert r4["recommendation"] == (
        "Change column 'Products(created_at)' to 'DATETIME' to match the expected type defined"
    )

    r5 = issues[("Users", "email", 5)]
    assert r5["issue_type"] == "Data Integrity - NULL values not allowed"
    assert r5["issue"] == "Critical column 'email' allows NULL values."
    assert r5["recommendation"] == "Alter column 'Users(email)' to NOT NULL to maintain data integrity."


def _hits(catalog, rule_id: int) -> set[tuple[str, str]]:
    """(table, column) pairs one rule flags in the full audit."""
    issues = detect_schema_flaws(*catalog).filter(f"rule_id = {rule_id}")
    return {(r["table"], r["column"]) for r in issues.collect()}


def test_composite_fk_first_column_only(quirks):
    """app.py:35 keeps only constrained_columns[0]: warehouse_id is
    covered (and indexed), bin_id is not → bin_id fires Rule 2."""
    hits = _hits(quirks, 2)
    assert ("shipments", "bin_id") in hits
    assert ("shipments", "warehouse_id") not in hits


def test_startswith_id_catches_idempotency_key(quirks):
    hits = _hits(quirks, 2)
    assert ("payments", "idempotency_key") in hits


def test_substring_keyword_matching(quirks):
    hits = _hits(quirks, 3)
    assert ("payments", "corporate_rate_x") in hits  # 'rate' substring
    assert ("payments", "total_amount") in hits


def test_unique_none_is_falsy_but_unique_true_blocks(quirks):
    """app.py:44: `not column.unique` passes when unique is None."""
    hits = _hits(quirks, 1)
    assert ("audit", "notes") in hits  # unique=None → fires
    assert ("audit", "summary") not in hits  # unique=True → blocked
    assert ("audit", "email") in hits


def test_multi_rule_hits_on_one_column(quirks):
    issues = detect_schema_flaws(*quirks)
    email_rules = sorted(
        r["rule_id"] for r in issues.collect() if (r["table"], r["column"]) == ("audit", "email")
    )
    assert email_rules == [1, 5]


def test_custom_rule_plugs_into_registry(spark, ecommerce):
    """Rules are data (SURVEY.md §4.2): a user-defined rule composes
    with the built-ins through the same registry mechanism."""
    from pyspark.sql import functions as F

    from rdbms_metadata_manager_spark.rules.engine import RULES, Rule

    rule6_reserved_word_names = Rule(
        6,
        "reserved_word_names",
        "Naming - reserved word",
        "lower(column_name) IN ('order', 'user', 'table')",
        """format_string("Column '%s' shadows a reserved word.", column_name)""",
        """format_string("Rename column '%s(%s)'.", table_name, column_name)""",
    )
    extended = RULES + [rule6_reserved_word_names]
    issues = detect_schema_flaws(*ecommerce, rules=extended)
    # fixture has no reserved-word columns → same 18 issues; and the
    # rule runs (no analysis error), proving composability.
    assert issues.count() == 18

    quirk_cols = ecommerce[0].withColumn(
        "column_name", F.when(F.col("column_name") == "user_id", "user").otherwise(F.col("column_name"))
    )
    issues2 = detect_schema_flaws(quirk_cols, *ecommerce[1:], rules=extended)
    assert issues2.filter("rule_id = 6").count() > 0


def test_rule_output_subset_of_input_columns(ecommerce):
    """Property: every issue's (table, column) exists in columns_meta."""
    cols_df, _, _ = ecommerce
    input_cols = {(r["table_name"], r["column_name"]) for r in cols_df.collect()}
    issues = detect_schema_flaws(*ecommerce)
    for r in issues.collect():
        assert (r["table"], r["column"]) in input_cols


def test_fixtures_without_arrow(spark):
    """Regression (VERDICT r2 item 1/2): the driver's session does NOT
    enable Arrow, so createDataFrame(pandas, schema) takes the strict
    ``_createFromLocal`` verifier path.  Pandas ``from_records`` used
    to promote nullable-int columns (ints + None) to float64 before
    astype(object), so ``255`` arrived as ``255.0`` and the verifier
    raised FIELD_DATA_TYPE_UNACCEPTABLE_WITH_NAME.  Build every
    fixture and run the full rule engine with Arrow explicitly OFF —
    this is the driver's environment."""
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        for db in ("ecommerce_db", "quirks_db"):
            cols = fixtures.columns_meta(spark, db)
            idx = fixtures.indexes_meta(spark, db)
            fks = fixtures.foreign_keys_meta(spark, db)
            # force full materialization through the verifier path
            assert cols.count() > 0
            assert idx.count() > 0
            assert fks.count() > 0
            issues = detect_schema_flaws(cols, idx, fks)
            n = issues.count()
            assert n == (18 if db == "ecommerce_db" else 7), (db, n)
        # int values must be Python ints end-to-end, never floats
        row = fixtures.columns_meta(spark, "ecommerce_db").filter(
            "column_name = 'username' AND table_name = 'Users'"
        ).first()
        assert row["char_max_length"] == 255
        assert isinstance(row["char_max_length"], int)
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)


def test_empty_fk_columns_array_audits_unchanged(spark, ecommerce):
    """An FK row with no constrained columns covers nothing. Under ANSI
    mode ``constrained_columns[0]`` on it would raise
    INVALID_ARRAY_INDEX, so the engine must guard the lookup."""
    from rdbms_metadata_manager_spark.catalog.fixtures import ECOMMERCE_FOREIGN_KEYS, _local_df
    from rdbms_metadata_manager_spark.catalog.schemas import FOREIGN_KEYS_META_SCHEMA

    cols, idx, _ = ecommerce
    fks = _local_df(
        spark,
        ECOMMERCE_FOREIGN_KEYS + [("ecommerce_db", "orders_teste", "fk_empty", [], "Users", [])],
        FOREIGN_KEYS_META_SCHEMA,
    )
    got = sorted((r["table"], r["column"], r["rule_id"]) for r in detect_schema_flaws(cols, idx, fks).collect())
    assert got == GOLDEN_18


def test_rules_plan_is_one_projection(ecommerce):
    """All rules run as one projection over the columns: no union of
    per-rule plans, and the only joins are the index and FK existence
    probes (Rule 4's lookup is a map literal, not a joined relation)."""
    issues = detect_schema_flaws(*ecommerce)
    issues.collect()
    plan = issues._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert joins and all("ExistenceJoin" in line for line in joins), plan


def test_report_and_csv_run_at_most_10_jobs(spark, ecommerce, tmp_path, capsys):
    """The CLI's two materializations of one audit (console report,
    then CSV) stay within 10 Spark jobs on the fixture."""
    from rdbms_metadata_manager_spark.sinks import print_report, write_csv

    sc = spark.sparkContext
    group = "test-audit-jobs"
    sc.setJobGroup(group, "print_report + write_csv")
    try:
        issues = detect_schema_flaws(*ecommerce)
        assert print_report(issues, "ecommerce_db") == 18
        write_csv(issues, str(tmp_path / "issues.csv"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 10
    assert "Table: Users" in capsys.readouterr().out


def test_rule_text_with_braces_reaches_spark_unchanged(ecommerce):
    """Rule SQL goes through spark.sql's ``{}`` formatter; braces in a
    rule (a regex quantifier, a literal) must arrive as written."""
    from rdbms_metadata_manager_spark.rules.engine import Rule

    braces = Rule(7, "braces", "Braces", "column_name RLIKE '^e.{4}$'",
                  """format_string("{%s}", column_name)""", "'{}'")
    got = {(r["table"], r["issue"], r["recommendation"])
           for r in detect_schema_flaws(*ecommerce, rules=[braces]).collect()}
    assert got == {("Users", "{email}", "{}"), ("users_teste", "{email}", "{}")}
