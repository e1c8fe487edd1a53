"""Seeded synthetic PostgreSQL catalog for the ``audit_pg`` workload.

``generate(seed, n_tables)`` returns the DDL that builds the catalog
in a live server and the three catalog contracts the live reader
should read back from it (``columns_meta``, ``indexes_meta``,
``foreign_keys_meta`` tuples, as in ``catalog.fixtures``). The tuples
feed the repository's DuckDB rules oracle, so the expected issue set
comes from the generator's model of the catalog, not from the reader
under test.

Every table has ``COLUMNS_PER_TABLE`` columns. The seed varies the
column names, types, lengths, nullability, indexes and single- and
composite-column foreign keys, never the table or column count.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

DATABASE = "auditdb"
COLUMNS_PER_TABLE = 11

# kind -> (DDL type, the type name the live reader reports for it after
# normalization); a varchar's DDL type gets its length per column
_KINDS = {
    "int": ("integer", "INTEGER"),
    "bigint": ("bigint", "BIGINT"),
    "smallint": ("smallint", "SMALLINT"),
    "varchar": (None, "VARCHAR"),
    "text": ("text", "TEXT"),
    "numeric": ("numeric(12,2)", "NUMERIC"),
    "double": ("double precision", "FLOAT"),
    "real": ("real", "FLOAT"),
    "timestamp": ("timestamp", "TIMESTAMP"),
    "date": ("date", "DATE"),
    "bool": ("boolean", "BOOLEAN"),
}
_VARCHAR_LENGTHS = [32, 64, 100, 255, 500, 1000]

# Column names the rules react to (keywords, id-like names, expected
# types, critical columns) mixed with neutral ones, each with the
# kinds it may be declared as.
_NAME_POOL = [
    ("email", ["varchar"]),
    ("username", ["varchar"]),
    ("title", ["varchar", "text"]),
    ("description", ["text", "varchar"]),
    ("notes", ["text", "varchar"]),
    ("price", ["numeric", "double", "real"]),
    ("unit_cost", ["numeric", "double"]),
    ("total_amount", ["numeric", "double"]),
    ("balance", ["numeric", "double"]),
    ("exchange_rate", ["numeric", "real"]),
    ("value_score", ["double", "numeric"]),
    ("rating", ["real", "double", "smallint", "numeric"]),
    ("created_at", ["timestamp", "date"]),
    ("updated_at", ["timestamp"]),
    ("order_date", ["timestamp", "date"]),
    ("status", ["varchar", "smallint"]),
    ("quantity", ["int", "smallint"]),
    ("sku", ["varchar"]),
    ("idempotency_key", ["varchar"]),
    ("is_active", ["bool"]),
    ("weight", ["real", "double"]),
    ("external_ref_id", ["bigint", "varchar"]),
    ("url", ["varchar", "text"]),
    ("code", ["varchar"]),
    ("payload", ["text"]),
    ("legacy_id", ["int", "bigint"]),
    ("shipped_on", ["date"]),
    ("discount", ["numeric", "real"]),
]
_TABLE_WORDS = ["orders", "users", "items", "events", "ledger", "stock", "reviews", "carts", "visits", "bins"]


@dataclass
class Table:
    name: str
    columns: list[tuple[str, str, int | None, bool, bool]] = field(default_factory=list)
    # (column, ddl type, char length, nullable, primary key)
    indexes: list[tuple[str, list[str], bool]] = field(default_factory=list)
    # (index name, columns, unique)
    fks: list[tuple[str, list[str], str, list[str]]] = field(default_factory=list)
    # (constraint name, columns, referred table, referred columns)

    @property
    def pk(self) -> list[str]:
        return [c[0] for c in self.columns if c[4]]


@dataclass
class Catalog:
    ddl: str
    columns: list[tuple]
    indexes: list[tuple]
    fks: list[tuple]


def _declare(rng: random.Random, kind: str) -> tuple[str, int | None]:
    ddl, _ = _KINDS[kind]
    if kind == "varchar":
        length = rng.choice(_VARCHAR_LENGTHS)
        return f"varchar({length})", length
    return ddl, None


def _normalized(ddl_type: str) -> str:
    if ddl_type.startswith("varchar("):
        return "VARCHAR"
    return next(norm for ddl, norm in _KINDS.values() if ddl == ddl_type)


def _build_tables(rng: random.Random, n_tables: int) -> list[Table]:
    tables: list[Table] = []
    single_pk: list[Table] = []
    composite_pk: list[Table] = []
    for i in range(n_tables):
        t = Table(f"t{i:04d}_{rng.choice(_TABLE_WORDS)}")
        if rng.random() < 0.12:
            t.columns += [("zone_id", "integer", None, False, True), ("slot_id", "integer", None, False, True)]
        else:
            t.columns.append(("id", "integer", None, False, True))
        # single-column FKs to earlier tables
        for k in range(rng.choice([0, 0, 1, 1, 2]) if single_pk else 0):
            parent = rng.choice(single_pk)
            col = f"{parent.name.split('_', 1)[0]}_ref{k}_id"
            t.columns.append((col, "integer", None, rng.random() < 0.4, False))
            t.fks.append((f"fk_{t.name}_{k}", [col], parent.name, ["id"]))
            if rng.random() < 0.5:
                t.indexes.append((f"ix_{t.name}_fk{k}", [col], False))
        # composite FK (only its first column counts as covered)
        if composite_pk and rng.random() < 0.15:
            parent = rng.choice(composite_pk)
            cols = ["bin_zone_id", "bin_slot_id"]
            t.columns += [(c, "integer", None, False, False) for c in cols]
            t.fks.append((f"fk_{t.name}_bin", cols, parent.name, ["zone_id", "slot_id"]))
            if rng.random() < 0.5:
                t.indexes.append((f"ix_{t.name}_bin", cols, False))
        pool = rng.sample(_NAME_POOL, COLUMNS_PER_TABLE - len(t.columns))
        for name, kinds in pool:
            ddl, length = _declare(rng, rng.choice(kinds))
            t.columns.append((name, ddl, length, rng.random() < 0.6, False))
        plain = [c[0] for c in t.columns if not c[4] and c[0] not in {x for ix in t.indexes for x in ix[1]}]
        for j, col in enumerate(plain):
            if rng.random() < 0.15:
                t.indexes.append((f"ix_{t.name}_{j}", [col], rng.random() < 0.3))
        if len(plain) >= 2 and rng.random() < 0.2:
            t.indexes.append((f"ix_{t.name}_multi", rng.sample(plain, 2), False))
        tables.append(t)
        (composite_pk if len(t.pk) == 2 else single_pk).append(t)
    return tables


def _ddl(tables: list[Table]) -> str:
    out: list[str] = []
    for t in tables:
        cols = [f"  {c} {ddl}{'' if nullable else ' NOT NULL'}" for c, ddl, _, nullable, _ in t.columns]
        cols.append(f"  PRIMARY KEY ({', '.join(t.pk)})")
        out.append(f"CREATE TABLE {t.name} (\n" + ",\n".join(cols) + "\n);")
        for name, cols_, unique in t.indexes:
            out.append(f"CREATE {'UNIQUE ' if unique else ''}INDEX {name} ON {t.name} ({', '.join(cols_)});")
        for name, cols_, parent, pcols in t.fks:
            out.append(
                f"ALTER TABLE {t.name} ADD CONSTRAINT {name} FOREIGN KEY ({', '.join(cols_)}) "
                f"REFERENCES {parent} ({', '.join(pcols)});"
            )
    return "\n".join(out) + "\n"


def generate(seed: int, n_tables: int) -> Catalog:
    """The catalog for ``seed``: DDL plus the expected catalog tuples."""
    tables = _build_tables(random.Random(f"catalog-{seed}"), n_tables)
    columns, indexes, fks = [], [], []
    for t in tables:
        for ordinal, (c, ddl, length, nullable, pk) in enumerate(t.columns, start=1):
            columns.append((DATABASE, t.name, c, ordinal, _normalized(ddl), length, nullable, None, pk))
        # PostgreSQL names the primary-key index <table>_pkey
        for name, cols, unique in [(f"{t.name}_pkey", t.pk, True), *t.indexes]:
            indexes += [(DATABASE, t.name, name, c, unique) for c in cols]
        fks += [(DATABASE, t.name, name, cols, parent, pcols) for name, cols, parent, pcols in t.fks]
    return Catalog(_ddl(tables), columns, indexes, fks)
