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
- CSV sink fetches the issues once as an Arrow table and renders the
  file on the driver with Arrow compute: one part file, byte for byte
  what Spark's CSV writer would write, with no Spark write job (the
  reference likewise writes its in-memory list, app.py:110-119).

The reference writes into a never-created ``exports/`` directory
(app.py:135 vs Dockerfile:19 — SURVEY.md §2.3(8)); we create parent
dirs, deliberately fixing that.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

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

# What Spark's CSV writer trims from both ends of a field.
_BLANKS = "".join(map(chr, range(0x21)))


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


def _field(values: pa.ChunkedArray, first: bool) -> pa.ChunkedArray:
    """One column rendered as Spark's CSV writer renders it (rules in
    ``write_csv``)."""
    lead = pc.utf8_ltrim(values, characters=_BLANKS)
    quote = pc.match_substring_regex(lead, r'[,"\n\r]')
    if first:
        quote = pc.or_(quote, pc.starts_with(values, "#"))
    text = pc.utf8_rtrim(lead, characters=_BLANKS)
    quote = pc.or_(quote, pc.equal(text, ""))
    escaped = pc.replace_substring(pc.replace_substring(text, "\\", "\\\\"), '"', '\\"')
    quoted = pc.binary_join_element_wise('"', escaped, '"', "")
    return pc.fill_null(pc.if_else(quote, quoted, text), "")


def write_csv(issues: DataFrame, path: str) -> None:
    r"""CSV sink (app.py:110-119): the directory ``path`` holds one
    ``part-00000.csv`` — header, then one line per issue in the
    relation's order, UTF-8 with ``\n`` line ends — byte for byte what
    ``coalesce(1).write.option("header", True).csv(path)`` writes.
    Whatever was at ``path`` is removed first, as ``mode("overwrite")``
    does; missing parent directories are created.

    Each field follows Spark's CSV writer (univocity, escape ``\``):

    1. characters up to U+0020 are trimmed from both ends;
    2. the field is quoted when the left-trimmed value holds ``,``,
       ``"``, ``\n`` or ``\r`` (so a trailing newline is trimmed but
       still quotes), when it is empty after trimming (``""``), and in
       the first column when the raw value starts with ``#``, the
       comment character;
    3. inside quotes every ``\`` is doubled, then ``"`` becomes ``\"``;
    4. NULL writes nothing.

    The trim drops the trailing space of audit Rule 2's
    recommendation (app.py:61-62): the golden CSV and Spark's writer
    both end that field at the period.
    """
    table = issues.select(*CSV_COLUMNS).toArrow()
    rows = pc.binary_join_element_wise(
        *[_field(table.column(i), i == 0) for i in range(table.num_columns)], ","
    )
    # large offsets: a big catalog's file may pass 2 GiB
    lines = pa.concat_arrays(
        [pa.array([",".join(CSV_COLUMNS.values())], pa.large_string())]
        + [chunk.cast(pa.large_string()) for chunk in rows.chunks]
    )
    text = pc.binary_join(
        pa.LargeListArray.from_arrays([0, len(lines)], lines), pa.scalar("\n", pa.large_string())
    )[0]

    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)
    os.makedirs(path)
    tmp = os.path.join(path, ".part-00000.csv.tmp")
    with open(tmp, "wb") as fh:
        fh.write(text.as_buffer())
        fh.write(b"\n")
    os.replace(tmp, os.path.join(path, "part-00000.csv"))
