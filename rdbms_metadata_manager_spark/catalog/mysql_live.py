"""Live-MySQL catalog transport over a ``mysql`` CLI subprocess.

Integration face for the reference's OTHER supported engine — MySQL is
its golden-sample database (reference README.md:3,56). The catalog
SQL and its post-processing are ``catalog.faces``'s, shared with the
JDBC and PostgreSQL transports; this module supplies only the wire.
No JDBC driver jar or Python DB-API client ships in this
environment, so rows travel as ``mysql --batch --xml`` output.

XML, not tab-batch, because the default ``--batch`` format prints SQL
NULL as the literal four characters ``NULL`` — indistinguishable from
a VARCHAR cell holding the string 'NULL'. The XML writer marks NULL
with an explicit ``xsi:nil="true"`` attribute and entity-escapes
tabs/newlines/angle brackets, so framing is unambiguous for any data.

This module's transport parser is unit-tested without a server, and
the full loop runs in tests/test_mysql_live.py the moment a
mysqld/mariadbd appears in the environment (none ships today — the
test skips cleanly). The PostgreSQL twin, ``catalog.pg_live``, is
integration-proven in tests/test_pg_live.py.

Scale note: identical to pg_live — a catalog is small even for a huge
warehouse, so one driver-side read is the right shape; beyond ~10^6
catalog rows the JDBC partitioned read is the cluster path.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from .faces import FACES, coerce, read_face, validate_database_ident
from .fixtures import _local_df

_XSI_NIL = "{http://www.w3.org/2001/XMLSchema-instance}nil"


def client_binary() -> str | None:
    for b in ("mysql", "mariadb"):
        if shutil.which(b):
            return b
    return None


def parse_xml(xml_text: str) -> list[list[str | None]]:
    """``mysql --xml`` resultset → rows of (str | None).

    Field order inside each <row> follows the SELECT list. A field
    element with ``xsi:nil="true"`` is SQL NULL; an empty element is
    the empty string (ElementTree surfaces both with ``text is
    None``, so the nil attribute is the only NULL signal — exactly
    why this format was chosen over ``--batch``).
    """
    if not xml_text.strip():
        return []
    root = ET.fromstring(xml_text)
    rows: list[list[str | None]] = []
    for row in root.iter("row"):
        vals: list[str | None] = []
        for field in row:
            if not field.tag.endswith("field"):
                continue
            if field.get(_XSI_NIL) == "true":
                vals.append(None)
            else:
                vals.append(field.text if field.text is not None else "")
        rows.append(vals)
    return rows


def run_sql(
    sql: str,
    database: str,
    socket: str | None = None,
    host: str | None = None,
    user: str = "root",
    password: str | None = None,
) -> list[list[str | None]]:
    """Run ``sql`` and return rows as lists of strings (None for SQL
    NULL). Connects over a unix socket (``socket``) or TCP (``host``).
    The password travels via the ``MYSQL_PWD`` environment variable,
    never argv (argv is world-readable in /proc)."""
    client = client_binary()
    if client is None:
        raise RuntimeError("no mysql/mariadb client binary on PATH")
    validate_database_ident(database)
    cmd = [client, "--no-defaults", "-u", user, "--batch", "--xml"]
    if socket:
        cmd += ["-S", socket]
    elif host:
        cmd += ["-h", host]
    cmd += ["-D", database, "-e", sql]
    env = None
    if password is not None:
        env = dict(os.environ, MYSQL_PWD=password)
    out = subprocess.run(
        cmd, check=True, capture_output=True, text=True, env=env
    ).stdout
    return parse_xml(out)


def read_catalog_live(
    spark: SparkSession, database: str, socket: str | None = None, host: str | None = None,
    user: str = "root", password: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three catalog contracts from a live MySQL — the drop-in
    input for ``rules.detect_schema_flaws``. Credentials come from the
    caller (the CLI parses them out of the DB_URL); the database name
    is identifier-validated before any SQL interpolation."""

    def fetch(sql, schema):
        rows = run_sql(sql, database, socket, host, user, password)
        return _local_df(spark, coerce(rows, schema, "1"), schema)

    return tuple(read_face(face, "mysql", database, fetch) for face in FACES)
