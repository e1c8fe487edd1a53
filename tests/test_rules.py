"""Rule-parity tests (SURVEY.md §5.2 items 1-2).

Golden: the ecommerce_db fixture must yield exactly the 18-issue
current-code set (``GOLDEN_18`` below explains why FIXTURES.md §1.5's
19 is one too many); quirks_db exercises every semantic trap from
SURVEY.md §2.3.
"""

from __future__ import annotations

import re

import pytest

from rdbms_metadata_manager_spark.catalog import fixtures
from rdbms_metadata_manager_spark.catalog.fixtures import _local_df
from rdbms_metadata_manager_spark.catalog.schemas import (
    COLUMNS_META_SCHEMA,
    FOREIGN_KEYS_META_SCHEMA,
    INDEXES_META_SCHEMA,
)
from rdbms_metadata_manager_spark.rules import detect_schema_flaws
from rdbms_metadata_manager_spark.rules.engine import RULES, _issues_plan


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


@pytest.mark.parametrize("arrow", ["false", "true"])
def test_local_df_is_a_local_table_scan_that_keeps_doubles(spark, arrow):
    """A local relation plans a LocalTableScan, not a Python-RDD scan,
    also with Arrow off (the driver's session), and keeps NaN, -0.0
    and NULL inside an ``array<double>`` as given (the centroid memo
    rebuilds' shape)."""
    import math

    from pyspark.sql.types import StructType

    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
    try:
        cols = fixtures._local_df(spark, fixtures.column_rows(), fixtures.COLUMNS_META_SCHEMA)
        assert cols._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
        vecs = fixtures._local_df(
            spark,
            [(1, [float("nan"), -0.0, None, 1.5]), (2, None)],
            StructType.fromDDL("cid int, centroid array<double>"),
        )
        assert vecs._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
        got = {r.cid: r.centroid for r in vecs.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)
    nan, neg_zero, null, x = got[1]
    assert math.isnan(nan)
    assert neg_zero == 0.0 and math.copysign(1.0, neg_zero) == -1.0
    assert null is None and x == 1.5
    assert got[2] is None


def test_empty_fk_columns_array_audits_unchanged(spark, ecommerce):
    """An FK row with no constrained columns covers nothing: the
    fixture derivation of ``is_fk_first`` skips it (indexing its empty
    list would raise), so the flags and the audit are unchanged."""
    from rdbms_metadata_manager_spark.catalog.fixtures import (
        ECOMMERCE_COLUMNS,
        ECOMMERCE_FOREIGN_KEYS,
        ECOMMERCE_INDEXES,
        flag_membership,
    )

    empty = ("ecommerce_db", "orders_teste", "fk_empty", [], "Users", [])
    rows = flag_membership(ECOMMERCE_COLUMNS, ECOMMERCE_INDEXES, ECOMMERCE_FOREIGN_KEYS + [empty])
    assert rows == fixtures.column_rows("ecommerce_db")
    _, idx, fks = ecommerce
    cols = _local_df(spark, rows, COLUMNS_META_SCHEMA)
    got = sorted((r["table"], r["column"], r["rule_id"]) for r in detect_schema_flaws(cols, idx, fks).collect())
    assert got == GOLDEN_18


def test_fixture_flags_follow_app_py_34_35():
    """``is_indexed``: some index row names the column (app.py:34);
    ``is_fk_first``: the column is an FK's first constrained column
    (app.py:35), so a composite FK's tail column is not covered."""
    flags = {(r[1], r[2]): r[9:] for r in fixtures.column_rows("quirks_db")}
    assert flags[("shipments", "warehouse_id")] == (True, True)
    assert flags[("shipments", "bin_id")] == (False, False)
    assert flags[("shipments", "shipment_id")] == (True, False)
    assert flags[("audit", "notes")] == (False, False)
    flags = {(r[1], r[2]): r[9:] for r in fixtures.column_rows("ecommerce_db")}
    assert flags[("Orders", "user_id")] == (True, True)
    assert flags[("orders_teste", "user_id")] == (False, False)
    assert flags[("Users", "email")] == (True, False)


def test_rules_plan_is_one_projection(ecommerce):
    """All rules run as one projection over the columns face alone: no
    union of per-rule plans and no join (membership is a column of
    ``columns_meta``; Rule 4's lookup is a map literal, not a joined
    relation). Nothing sorts, shuffles or broadcasts: the canonical
    order is applied on the driver."""
    issues = _issues_plan(ecommerce[0], RULES)
    issues.collect()
    plan = issues._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert not re.search(r"(Join|Exchange|Sort|BroadcastExchange)", plan), plan


def test_issues_are_a_local_relation(ecommerce):
    """The rules plan runs inside ``detect_schema_flaws``; what it
    returns is the collected issues, so reading them runs no plan."""
    issues = detect_schema_flaws(*ecommerce)
    assert issues._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"


def _bare_catalog(spark, column_rows):
    """The three catalog faces for ``column_rows`` (flags included),
    with no index and no foreign key rows."""
    return (
        _local_df(spark, column_rows, COLUMNS_META_SCHEMA),
        _local_df(spark, [], INDEXES_META_SCHEMA),
        _local_df(spark, [], FOREIGN_KEYS_META_SCHEMA),
    )


def test_driver_order_matches_spark_order_by(spark):
    """The driver-side sort gives exactly Spark's
    ``ORDER BY table, column, rule_id`` (UTF8_BINARY collation) over
    names that mix case, punctuation and non-ASCII letters."""
    names = ["Z", "a", "É", "é", "ß", "_x", "日本", "Ω", "A b"]
    rows = []
    for t in names:
        # each name fires Rule 1; "price" fires Rules 3 and 5, so one
        # (table, column) carries two rule ids
        for i, (c, dtype, length) in enumerate(
            [(n, "VARCHAR", 255) for n in names] + [("price", "FLOAT", None)]
        ):
            rows.append(("db", t, c, i + 1, dtype, length, True, None, False, False, False))
    faces = _bare_catalog(spark, rows)
    got = [tuple(r) for r in detect_schema_flaws(*faces).collect()]
    want = [
        tuple(r)
        for r in _issues_plan(faces[0], RULES).orderBy("table", "column", "rule_id").collect()
    ]
    assert len(got) == len(names) * (len(names) + 2)
    assert got == want


def test_empty_catalog_reports_no_issues(spark, capsys):
    """No column rows: no issues, the no-issues line, and the issue
    schema all the same."""
    from rdbms_metadata_manager_spark.sinks import print_report

    issues = detect_schema_flaws(*_bare_catalog(spark, []))
    assert issues.columns == ["table", "column", "issue_type", "issue", "recommendation", "rule_id"]
    assert print_report(issues, "empty_db") == 0
    assert capsys.readouterr().out == 'No issues detected in schema "empty_db".\n'


def test_report_and_csv_run_at_most_2_jobs(spark, ecommerce, tmp_path, capsys):
    """The audit executes once, with no join: with
    ``detect_schema_flaws`` counted, the console report and the CSV
    stay within 2 Spark jobs on the fixture: the rules collect and the
    CSV sink's Arrow fetch of the issues (the sink runs no write
    job)."""
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
    assert 0 < len(jobs) <= 2
    assert "Table: Users" in capsys.readouterr().out


class _Issues:
    """Just the ``limit().collect()`` surface ``print_report`` reads."""

    def __init__(self, n):
        self.rows = [
            {"table": f"T{i}", "column": "c", "issue_type": "t", "issue": "i",
             "recommendation": "r"}
            for i in range(n)
        ]

    def limit(self, n):
        self.rows = self.rows[:n]
        return self

    def collect(self):
        return self.rows


@pytest.mark.parametrize("n, printed, notice", [(4, 3, True), (3, 3, False)])
def test_report_cap_says_when_issues_are_left_out(monkeypatch, capsys, n, printed, notice):
    from rdbms_metadata_manager_spark.sinks import report

    monkeypatch.setattr(report, "REPORT_CAP", 3)
    assert report.print_report(_Issues(n), "db") == printed
    out = capsys.readouterr().out
    assert out.count("Table: ") == printed
    assert ("Showing the first 3 issues" in out) == notice


def test_rule_text_with_braces_reaches_spark_unchanged(ecommerce):
    """Rule SQL goes through spark.sql's ``{}`` formatter; braces in a
    rule (a regex quantifier, a literal) must arrive as written."""
    from rdbms_metadata_manager_spark.rules.engine import Rule

    braces = Rule(7, "braces", "Braces", "column_name RLIKE '^e.{4}$'",
                  """format_string("{%s}", column_name)""", "'{}'")
    got = {(r["table"], r["issue"], r["recommendation"])
           for r in detect_schema_flaws(*ecommerce, rules=[braces]).collect()}
    assert got == {("Users", "{email}", "{}"), ("users_teste", "{email}", "{}")}
