"""Live-catalog JDBC transport for MySQL and PostgreSQL.

The three catalog faces (SQL, raw schemas, post-processing) live in
``catalog.faces``; this module supplies only the wire,
``spark.read.format("jdbc")``. The face SQL is integration-tested
against a real PostgreSQL server through the psql transport in
``catalog.pg_live`` (tests/test_pg_live.py); only the JDBC wire
itself lacks a driver jar here.
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .faces import FACES, read_face


def get_database_name(db_url: str) -> str:
    """Extract the database (schema) name from a connection URL —
    parity with reference app.py:14-22. A ``jdbc:`` prefix is
    stripped first: ``urlparse`` would otherwise read ``jdbc`` as the
    scheme and return the whole ``mysql://host/db`` remainder."""
    database_name = urlparse(db_url.removeprefix("jdbc:")).path.lstrip("/")
    if database_name:
        return database_name
    raise ValueError("Could not extract database name from DB_URL.")


def _jdbc(spark: SparkSession, url: str, query: str, properties: dict | None = None) -> DataFrame:
    """JDBC read. For very large catalogs pass partitioned-read
    options in ``properties`` (e.g. partitionColumn='ordinal_position',
    lowerBound/upperBound/numPartitions) so the scan parallelizes
    across executors instead of a single connection; plain reads are
    fine up to ~10⁶ catalog rows."""
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_catalog_jdbc(
    spark: SparkSession, url: str, database: str, dialect: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three catalog contracts over JDBC — the drop-in input for
    ``rules.detect_schema_flaws``. ``dialect`` is ``mysql`` or
    ``postgresql``."""

    def fetch(sql, _raw_schema):
        return _jdbc(spark, url, sql)

    return tuple(read_face(face, dialect, database, fetch) for face in FACES)
