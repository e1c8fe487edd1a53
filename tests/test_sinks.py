"""The CSV sink renders on the driver exactly what Spark's CSV writer
writes.

``write_csv`` formats the issues with Arrow compute instead of running
a Spark write job; Spark's own writer survives only here, as the
oracle its bytes are compared against.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from rdbms_metadata_manager_spark.sinks.report import CSV_COLUMNS, write_csv

ISSUES_DDL = (
    "table string, column string, issue_type string, issue string, "
    "recommendation string, rule_id int"
)
ALPHABET = list('ab,"\\\n\r\t #') + ["\x00", "\x01", " ", " ", "　", "é", "'"]
EDGES = ["", None, "   ", "#x", " #x", "x\n", "\n\x01a", "a\\b,c", 'back\\"both']


def _corpus(seed: int, n: int) -> list[str | None]:
    rng = random.Random(seed)
    words = ["".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 8))) for _ in range(n)]
    return EDGES + words


def _issues(spark, values):
    """Row i holds values i..i+4 (cyclically), so every value sits in
    the first column once and in each later column once."""
    n = len(values)
    rows = [tuple(values[(i + k) % n] for k in range(5)) + (i,) for i in range(n)]
    return spark.createDataFrame(rows, ISSUES_DDL)


def _spark_write(issues, path) -> bytes:
    """The oracle: Spark's own CSV writer; returns its part file's bytes."""
    renamed = issues.select(*[F.col(src).alias(dst) for src, dst in CSV_COLUMNS.items()])
    renamed.coalesce(1).write.option("header", True).csv(str(path))
    (part,) = path.glob("part-*.csv")
    return part.read_bytes()


def _only_part_file(directory) -> bytes:
    names = sorted(p.name for p in directory.iterdir())
    assert len(names) == 1 and names[0].startswith("part-") and names[0].endswith(".csv"), names
    return (directory / names[0]).read_bytes()


@pytest.mark.parametrize("seed", [0, 1])
def test_csv_bytes_match_spark_writer(spark, tmp_path, seed):
    issues = _issues(spark, _corpus(seed, 1500))
    write_csv(issues, str(tmp_path / "ours"))
    ours = _only_part_file(tmp_path / "ours")
    assert ours == _spark_write(issues, tmp_path / "spark")
    assert ours.count(b'"#x"') > 0 and b",#x," in ours  # '#' quotes in column 1 only


def test_empty_issues_write_header_only(spark, tmp_path):
    issues = spark.createDataFrame([], ISSUES_DDL)
    write_csv(issues, str(tmp_path / "ours"))
    ours = _only_part_file(tmp_path / "ours")
    assert ours == _spark_write(issues, tmp_path / "spark")
    assert ours == b"Table,Column,Issue Type,Issue,Recommendation\n"


def test_write_csv_overwrites_spark_output_and_plain_file(spark, tmp_path):
    """Whatever was at the path goes, as ``mode("overwrite")`` did: an
    earlier Spark write (``_SUCCESS``, ``.crc`` files, a uuid part name)
    or a plain file. The result is one part file with the new bytes,
    and missing parent directories are created."""
    old = _issues(spark, ["old", "rows", "here", "a", "b"])
    new = _issues(spark, ["new", "x,y", 'q"', "#c", None])
    want_dir = tmp_path / "want"
    write_csv(new, str(want_dir))
    want = _only_part_file(want_dir)

    spark_dir = tmp_path / "spark_out"
    _spark_write(old, spark_dir)
    assert (spark_dir / "_SUCCESS").exists()
    assert any(p.name.endswith(".crc") for p in spark_dir.iterdir())
    write_csv(new, str(spark_dir))
    assert _only_part_file(spark_dir) == want

    plain = tmp_path / "plain.csv"
    plain.write_text("stale\n")
    write_csv(new, str(plain))
    assert _only_part_file(plain) == want

    nested = tmp_path / "a" / "b" / "issues.csv"
    write_csv(new, str(nested))
    assert _only_part_file(nested) == want
