"""Issue-report sinks (reference app.py:110-119,127-133).

The reference pretty-prints row-by-row and writes one CSV file with
header ``Table,Column,Issue Type,Issue,Recommendation``
(app.py:111). Both read the same ``issues`` list, as the reference's
sinks do (app.py:110-133): ``rules.detect_schema_flaws`` has already
executed the audit and returns its rows as a local relation, so
neither sink runs the rules plan again. Here:

- console sink formats on the driver from a bounded ``collect()``
  (an issue report is human-scale by definition; we still cap it at
  ``REPORT_CAP`` and say so when issues are left out);
- CSV sink is a Spark write coalesced to one part file, as the
  reference writes one CSV.

The reference writes into a never-created ``exports/`` directory
(app.py:135 vs Dockerfile:19 — SURVEY.md §2.3(8)); we create parent
dirs, deliberately fixing that.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Header field names per reference app.py:111 (note "Issue Type" with
# a space — the reference's dict key is "issue type").
CSV_COLUMNS = {
    "table": "Table",
    "column": "Column",
    "issue_type": "Issue Type",
    "issue": "Issue",
    "recommendation": "Recommendation",
}

# Most issues the console report prints; the CSV export has them all.
REPORT_CAP = 1000


def print_report(issues: DataFrame, database_name: str) -> int:
    """Per-issue 5-line pretty print, or the no-issues line, matching
    app.py:127-133. Returns the number of issues printed, so a caller
    learns whether there were any from this one collect. Past
    ``REPORT_CAP`` issues it prints the first ``REPORT_CAP`` and one
    line saying so: one row over the cap is collected to tell."""
    rows = issues.limit(REPORT_CAP + 1).collect()
    more = len(rows) > REPORT_CAP
    rows = rows[:REPORT_CAP]
    if not rows:
        print(f'No issues detected in schema "{database_name}".')
        return 0
    lines = [f'Schema "{database_name}" issues detected:']
    for r in rows:
        lines.append(f"Table: {r['table']}")
        lines.append(f"Column: {r['column']}")
        lines.append(f"Issue Type: {r['issue_type']}")
        lines.append(f"Issue: {r['issue']}")
        lines.append(f"Recommendation: {r['recommendation']}\n")
    if more:
        lines.append(
            f"Showing the first {REPORT_CAP} issues; "
            "the CSV export (EXPORT_TO_CSV=YES) lists every issue."
        )
    print("\n".join(lines))
    return len(rows)


def _renamed(issues: DataFrame) -> DataFrame:
    return issues.select(
        *[F.col(src).alias(dst) for src, dst in CSV_COLUMNS.items()]
    )


def write_csv(issues: DataFrame, path: str) -> None:
    """CSV sink (app.py:110-119): one part file, as the reference
    writes one CSV."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    _renamed(issues).coalesce(1).write.mode("overwrite").option("header", True).csv(path)
