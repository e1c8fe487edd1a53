"""Metadata-catalog fixtures (FIXTURES.md §1.5/§1.6).

Two synthetic catalogs reconstructed from the reference's golden
output (reference exports-sample/ecommerce_db_schema_issues.csv) and
its rule semantics (reference app.py:41-105):

- ``ecommerce_db`` — yields the canonical 18-issue set under
  current-code semantics, pinned by ``tests/test_rules.py::GOLDEN_18``
  (the 21-row golden CSV is stale; see SURVEY.md §2.3(5)).
- ``quirks_db`` — exercises every semantic trap: composite-FK
  first-column-only (app.py:35), ``startswith("id")`` (app.py:54),
  keyword substring matching (app.py:66-67), ``unique=None``
  (app.py:44), and multi-rule hits on one column.

Rows are module-level Python tuples, NOT parquet files: the same
tuples build the Spark DataFrames here and the DuckDB ``VALUES``
oracle in ``queries/metadata.py::_rules_oracle_sql``, so Spark and
oracle always see identical input. The ``*_COLUMNS`` tuples hold the 9
reflected fields; ``columns_meta`` appends the two membership flags,
derived here from the same database's ``*_INDEXES`` and
``*_FOREIGN_KEYS`` tuples as the reference derives them per table
(app.py:34-35). The oracle derives membership from those tuples on
its own, so it checks this derivation independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .schemas import (
    COLUMNS_META_SCHEMA,
    FOREIGN_KEYS_META_SCHEMA,
    INDEXES_META_SCHEMA,
)

# (database, table_name, column_name, ordinal, data_type,
#  char_max_length, is_nullable, is_unique, is_primary_key)
ECOMMERCE_COLUMNS = [
    ("ecommerce_db", "Users", "user_id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "Users", "username", 2, "VARCHAR", 255, True, None, False),
    ("ecommerce_db", "Users", "email", 3, "VARCHAR", 100, True, None, False),
    ("ecommerce_db", "Products", "product_id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "Products", "product_name", 2, "VARCHAR", 255, True, None, False),
    ("ecommerce_db", "Products", "price", 3, "FLOAT", None, True, None, False),
    ("ecommerce_db", "Products", "created_at", 4, "DATE", None, False, None, False),
    ("ecommerce_db", "Orders", "order_id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "Orders", "user_id", 2, "INTEGER", None, False, None, False),
    ("ecommerce_db", "Orders", "order_date", 3, "DATETIME", None, True, None, False),
    ("ecommerce_db", "Orders", "total_amount", 4, "DECIMAL", None, True, None, False),
    ("ecommerce_db", "Order_Items", "item_id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "Order_Items", "order_id", 2, "INTEGER", None, False, None, False),
    ("ecommerce_db", "Order_Items", "product_id", 3, "INTEGER", None, False, None, False),
    ("ecommerce_db", "Order_Items", "price", 4, "FLOAT", None, True, None, False),
    ("ecommerce_db", "Reviews", "review_id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "Reviews", "user_id", 2, "INTEGER", None, False, None, False),
    ("ecommerce_db", "Reviews", "product_id", 3, "INTEGER", None, False, None, False),
    ("ecommerce_db", "Reviews", "rating", 4, "TINYINT", None, True, None, False),
    ("ecommerce_db", "orders_teste", "order_id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "orders_teste", "user_id", 2, "INTEGER", None, False, None, False),
    ("ecommerce_db", "orders_teste", "order_date", 3, "DATETIME", None, True, None, False),
    ("ecommerce_db", "orders_teste", "total_amount", 4, "DECIMAL", None, True, None, False),
    ("ecommerce_db", "users_teste", "id", 1, "INTEGER", None, False, None, True),
    ("ecommerce_db", "users_teste", "username", 2, "VARCHAR", 255, True, None, False),
    ("ecommerce_db", "users_teste", "email", 3, "VARCHAR", 255, True, None, False),
]

# (database, table_name, index_name, column_name, is_unique)
ECOMMERCE_INDEXES = [
    ("ecommerce_db", "Users", "PRIMARY", "user_id", True),
    ("ecommerce_db", "Users", "uq_users_email", "email", True),
    ("ecommerce_db", "Products", "PRIMARY", "product_id", True),
    ("ecommerce_db", "Orders", "PRIMARY", "order_id", True),
    ("ecommerce_db", "Orders", "ix_orders_user", "user_id", False),
    ("ecommerce_db", "Order_Items", "PRIMARY", "item_id", True),
    ("ecommerce_db", "Order_Items", "ix_oi_order", "order_id", False),
    ("ecommerce_db", "Order_Items", "ix_oi_product", "product_id", False),
    ("ecommerce_db", "Reviews", "PRIMARY", "review_id", True),
    ("ecommerce_db", "Reviews", "ix_rev_user", "user_id", False),
    ("ecommerce_db", "Reviews", "ix_rev_product", "product_id", False),
    ("ecommerce_db", "orders_teste", "PRIMARY", "order_id", True),
    ("ecommerce_db", "users_teste", "PRIMARY", "id", True),
]

# (database, table_name, constraint_name, constrained_columns,
#  referred_table, referred_columns)
ECOMMERCE_FOREIGN_KEYS = [
    ("ecommerce_db", "Orders", "fk_orders_user", ["user_id"], "Users", ["user_id"]),
    ("ecommerce_db", "Order_Items", "fk_oi_order", ["order_id"], "Orders", ["order_id"]),
    ("ecommerce_db", "Order_Items", "fk_oi_product", ["product_id"], "Products", ["product_id"]),
    ("ecommerce_db", "Reviews", "fk_rev_user", ["user_id"], "Users", ["user_id"]),
    ("ecommerce_db", "Reviews", "fk_rev_product", ["product_id"], "Products", ["product_id"]),
]

QUIRKS_COLUMNS = [
    ("quirks_db", "shipments", "shipment_id", 1, "INTEGER", None, False, None, True),
    ("quirks_db", "shipments", "warehouse_id", 2, "INTEGER", None, False, None, False),
    ("quirks_db", "shipments", "bin_id", 3, "INTEGER", None, False, None, False),
    ("quirks_db", "payments", "payment_id", 1, "INTEGER", None, False, None, True),
    ("quirks_db", "payments", "idempotency_key", 2, "VARCHAR", 64, False, None, False),
    ("quirks_db", "payments", "corporate_rate_x", 3, "VARCHAR", 32, True, None, False),
    ("quirks_db", "payments", "total_amount", 4, "FLOAT", None, False, None, False),
    ("quirks_db", "audit", "audit_id", 1, "INTEGER", None, False, None, True),
    ("quirks_db", "audit", "notes", 2, "TEXT", 65535, True, None, False),
    ("quirks_db", "audit", "summary", 3, "VARCHAR", 300, True, True, False),
    ("quirks_db", "audit", "email", 4, "VARCHAR", 255, True, None, False),
]

QUIRKS_INDEXES = [
    ("quirks_db", "shipments", "PRIMARY", "shipment_id", True),
    # warehouse_id is indexed (leading column of the composite FK index);
    # bin_id deliberately is not.
    ("quirks_db", "shipments", "ix_ship_wh", "warehouse_id", False),
    ("quirks_db", "payments", "PRIMARY", "payment_id", True),
    ("quirks_db", "audit", "PRIMARY", "audit_id", True),
]

QUIRKS_FOREIGN_KEYS = [
    # Composite FK: reference app.py:35 keeps only constrained_columns[0],
    # so bin_id stays uncovered and fires Rule 2.
    (
        "quirks_db",
        "shipments",
        "fk_ship_loc",
        ["warehouse_id", "bin_id"],
        "warehouse_bins",
        ["warehouse_id", "bin_id"],
    ),
]


def _local_df(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """``rows`` as a local relation, built from a pyarrow Table typed by
    ``schema``, so Catalyst plans a LocalTableScan whether or not the
    session enables Arrow. A plain createDataFrame(list) builds a
    Python-RDD-backed scan (applySchemaToPythonRDD) that launches
    pyspark workers inside every downstream stage — measured at a
    flat ~4s per broadcast join in this environment.

    Each column is typed by the schema, never inferred, so a nullable
    int column (ints + None) keeps ``255`` an int."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([row[i] for row in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def flag_membership(columns, indexes, foreign_keys) -> list[tuple]:
    """Each 9-field column row with ``is_indexed`` and ``is_fk_first``
    appended: whether some index row names the column (app.py:34), and
    whether it is ``constrained_columns[0]`` of some FK (app.py:35).
    An FK with no constrained columns covers nothing. Rows may be
    tuples or collected Spark rows of the ``catalog.schemas`` faces."""
    indexed = {(db, t, c) for db, t, _name, c, _unique in indexes}
    fk_first = {(db, t, cols[0]) for db, t, _name, cols, *_ in foreign_keys if cols}
    return [(*row, row[:3] in indexed, row[:3] in fk_first) for row in columns]


# database -> its (columns, indexes, foreign_keys) tuples
DATABASES = {
    "ecommerce_db": (ECOMMERCE_COLUMNS, ECOMMERCE_INDEXES, ECOMMERCE_FOREIGN_KEYS),
    "quirks_db": (QUIRKS_COLUMNS, QUIRKS_INDEXES, QUIRKS_FOREIGN_KEYS),
}


def column_rows(database: str = "ecommerce_db") -> list[tuple]:
    """The fixture database's ``columns_meta`` rows, flags included."""
    return flag_membership(*DATABASES[database])


def columns_meta(spark: SparkSession, database: str = "ecommerce_db") -> DataFrame:
    return _local_df(spark, column_rows(database), COLUMNS_META_SCHEMA)


def indexes_meta(spark: SparkSession, database: str = "ecommerce_db") -> DataFrame:
    return _local_df(spark, DATABASES[database][1], INDEXES_META_SCHEMA)


def foreign_keys_meta(spark: SparkSession, database: str = "ecommerce_db") -> DataFrame:
    return _local_df(spark, DATABASES[database][2], FOREIGN_KEYS_META_SCHEMA)
