"""The 5 data-quality rules as data, composed into one projection.

Parity target: reference app.py:41-105 (rule semantics AND exact
message strings, including the trailing space the reference's
adjacent f-strings produce in Rule 2's recommendation at
app.py:61-62).

Where the reference does per-column Python interpretation
(app.py:38), each rule here is SQL text over one ``columns_meta``
row: a predicate and two message expressions. ``detect_schema_flaws``
composes every rule into ONE projection over the columns fact table,
so the whole audit is one scan with no join, no exchange and no
broadcast:

- the per-table membership sets (app.py:34-35,44,55) are two boolean
  columns of ``columns_meta`` itself, ``is_indexed`` and
  ``is_fk_first``. Every reader delivers them: the live readers'
  catalog SQL answers them with two ``EXISTS`` next to
  ``is_primary_key`` (``catalog/faces.py``), and the fixtures derive
  them from their index and FK tuples as the reference does while it
  reflects. The rules read no other relation;
- Rule 4's dict lookup (app.py:84) becomes a ``map(...)`` literal
  indexed in the expression itself, so there is no lookup relation;
- the list accumulator (app.py:26,107) becomes
  ``inline(filter(array(CASE WHEN predicate THEN issue END, ...)))``:
  each column row emits one issue per rule that fires, and there is
  no union.

Catalog metadata is small even for huge warehouses (10^5 tables x
10^2 columns ~ 10^7 rows), and the columns side streams; no index or
FK face is broadcast at any catalog size. The plan executes once,
inside ``detect_schema_flaws``: its rows are collected as one Arrow
table, sorted on the driver (the rows come to the driver anyway, so a
cluster sort's sampling job and shuffle would do no useful work) and
handed back as a local relation that both sinks read. The driver
holds at most 5 issues per catalog column row — no more than the
libpq, mysql-CLI and fixture readers already hold there, and the CSV
sink renders its file there too.

Semantic traps preserved (SURVEY.md §2.3): composite-FK
first-column-only in ``is_fk_first`` (PostgreSQL ``conkey[1]``, MySQL
``ordinal_position = 1``, the fixtures' ``constrained_columns[0]``,
where an empty list covers nothing); ``unique=None`` falsy via
``is_unique IS NOT TRUE``; Rule 3 substring (not word) keyword
matching; Rule 2 ``startswith("id")``; lowercased name matching but
reflected-case type-name matching.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

# Rule 3 keyword list (app.py:66-67) — substring containment, so
# 'corporate_rate_x' matches 'rate' and 'rating' matches 'rate'.
MONETARY_KEYWORDS = ["price", "amount", "total", "cost", "value", "balance", "rate"]

# Rule 4 expected-type dictionary (app.py:79-83).
EXPECTED_TYPES = {"rating": "FLOAT", "created_at": "DATETIME", "order_date": "DATETIME"}

# Rule 5 critical-column list (app.py:96).
NON_NULLABLE_COLUMNS = ["email", "price", "total_amount", "order_date", "rating"]


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_list(items) -> str:
    return ", ".join(_sql_string(s) for s in items)


_EXPECTED_TYPE = (
    "map(" + _sql_list(x for kv in EXPECTED_TYPES.items() for x in kv) + ")[lower(column_name)]"
)


@dataclass(frozen=True)
class Rule:
    """One rule as SQL text over a ``columns_meta`` row, including its
    membership flags ``is_indexed`` (some index covers the column) and
    ``is_fk_first`` (the column is the first constrained column of
    some FK). ``issue`` and ``recommendation`` are string expressions;
    ``issue_type`` is the literal issue type."""

    rule_id: int
    name: str
    issue_type: str
    predicate: str
    issue: str
    recommendation: str


# Rule registry as data (SURVEY.md §4.2) — rules compose as SQL
# expressions instead of the reference's hard-coded if-blocks.
RULES: list[Rule] = [
    # app.py:41-51. ``not column.unique`` passes when unique is None
    # (app.py:44), hence ``IS NOT TRUE``, not ``NOT is_unique``.
    Rule(
        1,
        "unindexed_large_text",
        "Query performance - missing index",
        "data_type IN ('VARCHAR', 'TEXT') AND char_max_length >= 255"
        " AND is_unique IS NOT TRUE AND NOT is_indexed",
        """format_string("Large %s column '%s' in '%s' is not indexed.",
                         data_type, column_name, table_name)""",
        """format_string("Add an index on '%s(%s)' to improve query performance.",
                         table_name, column_name)""",
    ),
    # app.py:53-63. ``startswith("id")`` intentionally catches names
    # like ``idempotency_key`` (SURVEY.md §2.3(3)).
    Rule(
        2,
        "id_like_non_key",
        "Normalization - Data integrity",
        "(endswith(lower(column_name), 'id') OR startswith(lower(column_name), 'id'))"
        " AND NOT is_primary_key AND NOT is_fk_first AND NOT is_indexed",
        """format_string("Potential foreign key column '%s' is not properly defined.",
                         column_name)""",
        """format_string("Define a foreign key constraint and index for '%s' referencing "
                         "the appropriate table and add the correct kind of index. ",
                         column_name)""",
    ),
    # app.py:65-76: substring containment, so ``rlike`` over the
    # keyword alternation, not word-boundary matching.
    Rule(
        3,
        "monetary_wrong_type",
        "Data type - Precision error",
        f"lower(column_name) RLIKE {_sql_string('|'.join(MONETARY_KEYWORDS))}"
        " AND data_type NOT IN ('DECIMAL', 'NUMERIC')",
        """format_string("Monetary column '%s' is of type '%s', expected DECIMAL or NUMERIC.",
                         column_name, data_type)""",
        """format_string("Consider changing the column '%s(%s)' to DECIMAL or NUMERIC for "
                         "better precision in monetary calculations.",
                         table_name, column_name)""",
    ),
    # app.py:78-93. A name absent from the map looks up NULL, and the
    # predicate is then NULL: the rule does not fire.
    Rule(
        4,
        "expected_type_mismatch",
        "Data type mismatch",
        f"data_type != {_EXPECTED_TYPE}",
        f"""format_string("Column '%s' has type '%s', expected '%s'.",
                          column_name, data_type, {_EXPECTED_TYPE})""",
        f"""format_string("Change column '%s(%s)' to '%s' to match the expected type defined",
                          table_name, column_name, {_EXPECTED_TYPE})""",
    ),
    # app.py:95-105.
    Rule(
        5,
        "critical_nullable",
        "Data Integrity - NULL values not allowed",
        f"lower(column_name) IN ({_sql_list(NON_NULLABLE_COLUMNS)}) AND is_nullable",
        """format_string("Critical column '%s' allows NULL values.", column_name)""",
        """format_string("Alter column '%s(%s)' to NOT NULL to maintain data integrity.",
                         table_name, column_name)""",
    ),
]


def _issue_case(rule: Rule) -> str:
    return (
        f"CASE WHEN {rule.predicate} THEN named_struct("
        f"'issue_type', {_sql_string(rule.issue_type)}, 'issue', {rule.issue}, "
        f"'recommendation', {rule.recommendation}, 'rule_id', {rule.rule_id}) END"
    )


def _issues_plan(columns_meta: DataFrame, rules: list[Rule]) -> DataFrame:
    """Every rule's issues, unordered, as one SQL statement over the
    columns face alone."""
    cases = ", ".join(_issue_case(r) for r in rules)
    # one statement is one analysis (about half the plan-build time of
    # a statement plus chained DataFrame calls); braces in rule text are
    # doubled so the formatter passes them through
    sql = f"""
SELECT table_name AS `table`, column_name AS `column`,
       inline(filter(array({cases.replace("{", "{{").replace("}", "}}")}), i -> i IS NOT NULL))
FROM {{columns}}
"""
    return columns_meta.sparkSession.sql(sql, columns=columns_meta)


def detect_schema_flaws(
    columns_meta: DataFrame,
    indexes_meta: DataFrame,
    foreign_keys_meta: DataFrame,
    rules: list[Rule] | None = None,
) -> DataFrame:
    """Every rule's issues, canonically ordered, as a local relation.

    The rules read only ``columns_meta``: its ``is_indexed`` and
    ``is_fk_first`` columns already carry the index and FK membership
    the reader computed. ``indexes_meta`` and ``foreign_keys_meta``
    stay in the signature so a caller passes a reader's whole catalog
    as it comes; they are not read.

    Replaces the reference's driver loop + list accumulator
    (app.py:26-107): the rules plan runs here, once, and its rows come
    back as the reference's ``issues`` list, which every reader of the
    result (console report, CSV) then scans without running the plan
    again. Output order: (table, column, rule_id) — the reference's
    order is nondeterministic reflection order (SURVEY.md §2.3(6)), so
    we define the canonical sort here. Arrow sorts strings by their
    UTF-8 bytes, which is Spark's default (UTF8_BINARY) order, and puts
    NULLs first as Spark's ascending ``ORDER BY`` does.
    """
    plan = _issues_plan(columns_meta, rules or RULES)
    table = plan.toArrow().sort_by(
        [("table", "ascending"), ("column", "ascending"), ("rule_id", "ascending")],
        null_placement="at_start",
    )
    return plan.sparkSession.createDataFrame(table, plan.schema)
