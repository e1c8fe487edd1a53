"""Spark 4 Python DataSource serving the metadata-catalog fixtures.

The reference reaches its catalog through a SQLAlchemy engine
(`/root/reference/app.py:27-35`); the Spark-native equivalent of "a
pluggable place rows come from" is the DataSource V2 API, exposed to
Python in Spark 4 as ``pyspark.sql.datasource``. This module
implements it for the same catalog surface the JDBC reader and the
in-memory fixtures already provide, so the engine demonstrates all
three source shapes Spark supports:

- JDBC relation  (``catalog/jdbc_source.py`` — live databases),
- in-memory rows (``catalog/fixtures.py`` — tests/offline),
- **custom DataSource** (this file — any bespoke catalog protocol).

The reader is partition-aware the way a real catalog source must be:
``partitions()`` returns one ``InputPartition`` per *table*, and each
``read(partition)`` emits only that table's rows — Spark schedules
the partitions across executors, so a catalog with 10⁵ tables scans
in parallel instead of through one driver loop (the N+1 trap the
reference fell into; SURVEY.md §2.3(1)). Each partition re-derives
its rows from the module-level fixture tuples: the class ships no
row payloads to executors, only the partition key — exactly how a
real implementation would carry a connection string + table id.

Registration is per-session (``spark.dataSource.register``);
``read_catalog_fixture`` wraps register + read + option plumbing.
Options: ``face`` = columns|indexes|foreign_keys, ``dataset`` =
ecommerce|quirks.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from ..catalog import fixtures, schemas

_FACES = {
    "columns": schemas.COLUMNS_META_SCHEMA,
    "indexes": schemas.INDEXES_META_SCHEMA,
    "foreign_keys": schemas.FOREIGN_KEYS_META_SCHEMA,
}


def _rows(face: str, dataset: str) -> Sequence[tuple]:
    database = f"{dataset}_db"
    if face == "columns":
        return fixtures.column_rows(database)
    _, indexes, foreign_keys = fixtures.DATABASES[database]
    return indexes if face == "indexes" else foreign_keys


class _TablePartition(InputPartition):
    def __init__(self, table_name: str):
        self.table_name = table_name


class _CatalogFixtureReader(DataSourceReader):
    def __init__(self, face: str, dataset: str):
        self.face = face
        self.dataset = dataset

    def partitions(self) -> Sequence[InputPartition]:
        # one partition per table: the unit a real catalog protocol
        # can fetch independently (and the unit of scan parallelism)
        tables = sorted({r[1] for r in _rows(self.face, self.dataset)})
        return [_TablePartition(t) for t in tables]

    def read(self, partition: _TablePartition) -> Iterator[tuple]:
        for r in _rows(self.face, self.dataset):
            if r[1] == partition.table_name:
                yield r


class CatalogFixtureDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "catalog_fixture"

    def schema(self) -> StructType:
        face = self.options.get("face", "columns")
        if face not in _FACES:
            raise ValueError(f"unknown face {face!r}; one of {sorted(_FACES)}")
        return _FACES[face]

    def reader(self, schema: StructType) -> DataSourceReader:
        face = self.options.get("face", "columns")
        dataset = self.options.get("dataset", "ecommerce")
        if dataset not in ("ecommerce", "quirks"):
            raise ValueError(f"unknown dataset {dataset!r}")
        return _CatalogFixtureReader(face, dataset)


def read_catalog_fixture(
    spark: SparkSession, face: str = "columns", dataset: str = "ecommerce"
) -> DataFrame:
    spark.dataSource.register(CatalogFixtureDataSource)
    return (
        spark.read.format("catalog_fixture").option("face", face).option("dataset", dataset).load()
    )


# ---------------------------------------------------------------------------
# Streaming flavor: a deterministic offset-replayable tick source.
# ---------------------------------------------------------------------------

TICK_SCHEMA_DDL = "tick_id bigint, user_id bigint, kind string, amount bigint"
_KINDS = ("view", "click", "buy")


def _tick(i: int) -> tuple:
    # pure function of the offset — the property that makes the source
    # exactly-once replayable (readBetweenOffsets re-derives any range)
    return (i, i % 7, _KINDS[i % 3], (i * i) % 1000)


class _TickStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, batch: int, limit: int):
        self.batch = batch
        self.limit = limit

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        pos = start["pos"]
        end = min(pos + self.batch, self.limit)
        return iter([_tick(i) for i in range(pos, end)]), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay path after restart: offsets fully determine the rows
        return iter([_tick(i) for i in range(start["pos"], end["pos"])])


class TickStreamDataSource(DataSource):
    """Spark 4 Python *streaming* DataSource: micro-batches of
    deterministic tick rows, offset-tracked and replayable — the
    minimal shape of a custom queue/CDC-feed connector. Pair with the
    batch ``catalog_fixture`` source above: together they cover both
    DataSource V2 read paths Python can implement. State the engine
    must respect: offsets are the ONLY state (checkpointed by Spark);
    the reader re-derives rows from offsets on replay, so restart
    gives exactly-once results without the source storing anything."""

    @classmethod
    def name(cls) -> str:
        return "tick_stream"

    def schema(self) -> str:
        return TICK_SCHEMA_DDL

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _TickStreamReader(
            batch=int(self.options.get("batch", "100")),
            limit=int(self.options.get("limit", "1000")),
        )


def read_tick_stream(spark: SparkSession, batch: int = 100, limit: int = 1000) -> DataFrame:
    spark.dataSource.register(TickStreamDataSource)
    return (
        spark.readStream.format("tick_stream")
        .option("batch", str(batch))
        .option("limit", str(limit))
        .load()
    )
