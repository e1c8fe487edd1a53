"""Live-PostgreSQL catalog transport over a ``psql`` subprocess.

Integration face for the reference's primary mode — a live database
connection (reference app.py:123-125, README.md:43-50). The catalog
SQL and its post-processing are ``catalog.faces``'s, shared with the
JDBC and MySQL transports; this module supplies only the wire. This
container has PostgreSQL server binaries but no JDBC driver jar or
Python DB-API client, so rows travel as ``COPY (…) TO STDOUT (FORMAT
text)`` through ``psql`` (tab-delimited, backslash-escaped,
unambiguous ``\\N`` NULL).

``read_catalog_live`` reads all three faces through one ``psql``
process: a ``psql`` call costs tens of milliseconds before the server
does any work, more than reading a whole catalog's rows, so one
face-tagged statement (``faces.PG_CATALOG_QUERY``) replaces three.

Scale note: a catalog is small even for a huge warehouse (10^5 tables
× 10^2 columns ≈ 10^7 rows ≈ 1 GB of text), so a single driver-side
read is the right shape; for a catalog beyond that, the JDBC reader's
partitioned-read options (jdbc_source._jdbc) are the cluster path.
The DataFrames produced here are byte-identical contracts to the
fixture and JDBC paths, so ``rules.detect_schema_flaws`` is
transport-agnostic.
"""

from __future__ import annotations

import os
import subprocess

from pyspark.sql import DataFrame, SparkSession

from .faces import PG_CATALOG_QUERY, coerce, read_tagged_catalog
from .fixtures import _local_df

_NULL = "\\N"

# COPY text-format backslash escapes (PostgreSQL documentation,
# "COPY ... Text Format"): a literal backslash in DATA always arrives
# doubled, so the bare sentinel '\N' is unambiguously NULL — unlike
# CSV format, where a data value equal to the NULL sentinel is merely
# quoted and csv parsing erases the distinction.
_TEXT_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f", "v": "\v", "\\": "\\"}


def _unescape(v: str) -> str:
    if "\\" not in v:
        return v
    out = []
    i = 0
    while i < len(v):
        c = v[i]
        if c == "\\" and i + 1 < len(v):
            out.append(_TEXT_ESCAPES.get(v[i + 1], v[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def run_sql(
    sql: str,
    database: str,
    host: str,
    user: str = "postgres",
    port: int | None = None,
    password: str | None = None,
) -> list[list[str | None]]:
    """Run ``sql`` and return rows as lists of strings (None for SQL
    NULL). ``host`` may be a unix-socket directory or a hostname; with
    no ``port``, psql's default applies (``PGPORT``, else 5432). The
    password travels via the ``PGPASSWORD`` environment variable,
    never argv (argv is world-readable in /proc).
    Uses COPY *text* format: tab-delimited, backslash-escaped, with
    an unambiguous ``\\N`` NULL (a data value of those two characters
    arrives escaped as ``\\\\N``)."""
    copy_stmt = f"COPY ({sql.rstrip().rstrip(';')}) TO STDOUT (FORMAT text)"
    cmd = ["psql", "-h", host]
    if port is not None:
        cmd += ["-p", str(port)]
    cmd += ["-U", user, "-d", database, "-X", "-q", "-v", "ON_ERROR_STOP=1", "-c", copy_stmt]
    env = None
    if password is not None:
        env = dict(os.environ, PGPASSWORD=password)
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, env=env).stdout
    # split on '\n' ONLY: COPY text escapes \n/\r in data, so the row
    # terminator is exactly one newline — str.splitlines() would also
    # split on U+0085/U+2028/U+2029, which COPY text does NOT escape,
    # breaking row framing for identifiers containing them.
    lines = out.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # COPY terminates every row with \n → one trailing ""
    return [
        [None if v == _NULL else _unescape(v) for v in line.split("\t")]
        for line in lines
    ]


def read_catalog_live(
    spark: SparkSession, database: str, host: str, **conn
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three catalog contracts from a live PostgreSQL — the
    drop-in input for ``rules.detect_schema_flaws`` — in one round
    trip: one ``run_sql`` of the face-tagged ``PG_CATALOG_QUERY``.
    ``conn`` is run_sql's keyword arguments (user, port, password).
    ``run_sql`` is looked up in this module's globals at call time,
    so a caller can wrap it (perfbench counts catalog rows this
    way)."""
    rows = run_sql(PG_CATALOG_QUERY, database, host, **conn)
    return read_tagged_catalog(
        rows, lambda face_rows, schema: _local_df(spark, coerce(face_rows, schema, "true"), schema)
    )


# One face each, under the names callers already wrap or call (the
# perfbench harness patches these attributes); each is a full
# one-round-trip read.
def read_columns_meta_live(spark: SparkSession, database: str, host: str, **conn) -> DataFrame:
    return read_catalog_live(spark, database, host, **conn)[0]


def read_indexes_meta_live(spark: SparkSession, database: str, host: str, **conn) -> DataFrame:
    return read_catalog_live(spark, database, host, **conn)[1]


def read_foreign_keys_meta_live(spark: SparkSession, database: str, host: str, **conn) -> DataFrame:
    return read_catalog_live(spark, database, host, **conn)[2]
