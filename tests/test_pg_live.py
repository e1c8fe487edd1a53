"""Live-PostgreSQL integration test for the reference's primary mode.

The reference's main workflow is: connect to a live database, reflect
its catalog, run the 5 rules (reference app.py:123-125). This test
provisions a REAL PostgreSQL server (binaries ship in this container;
initdb + pg_ctl in a temp dir, unix socket, trust auth), creates the
ecommerce_db scenario with actual DDL (through ``psql``), reads the
catalog back through ``catalog.pg_live`` (libpq in-process, the face
SQL of ``catalog.faces``), runs
``detect_schema_flaws``, and checks it two ways:

1. engine-vs-oracle: the DuckDB rules oracle rendered from the SAME
   live-read tuples must match the Spark output row for row;
2. scenario parity: the (table, column, rule_id) hit set must equal
   the MySQL-flavored fixture's set plus exactly the two Rule-4 rows
   PostgreSQL necessarily adds (pg has no DATETIME type, so
   ``order_date TIMESTAMP`` mismatches the expected 'DATETIME' —
   SQLAlchemy reflection on pg gives the reference the same result).

The transport's own contract is checked here too: SQL NULL against
the literal ``\\N``, a failure that names its cause and leaves no
backend behind, and a UTF-8 client encoding whatever
``PGCLIENTENCODING`` says.

Skips (cleanly) when server binaries or the postgres user are absent.
"""

from __future__ import annotations

import os
import pwd
import re
import shutil
import subprocess
import tempfile
import time

import pytest


from rdbms_metadata_manager_spark.catalog import fixtures, pg_live
from rdbms_metadata_manager_spark.queries.metadata import _rules_oracle_sql
from rdbms_metadata_manager_spark.rules import detect_schema_flaws

DDL = """
CREATE TABLE "Users" (
  user_id integer PRIMARY KEY,
  username varchar(255),
  email varchar(100)
);
CREATE UNIQUE INDEX uq_users_email ON "Users"(email);
CREATE TABLE "Products" (
  product_id integer PRIMARY KEY,
  product_name varchar(255),
  price double precision,
  created_at date NOT NULL
);
CREATE TABLE "Orders" (
  order_id integer PRIMARY KEY,
  user_id integer NOT NULL REFERENCES "Users"(user_id),
  order_date timestamp,
  total_amount numeric(10,2)
);
CREATE INDEX ix_orders_user ON "Orders"(user_id);
CREATE TABLE "Order_Items" (
  item_id integer PRIMARY KEY,
  order_id integer NOT NULL REFERENCES "Orders"(order_id),
  product_id integer NOT NULL REFERENCES "Products"(product_id),
  price double precision
);
CREATE INDEX ix_oi_order ON "Order_Items"(order_id);
CREATE INDEX ix_oi_product ON "Order_Items"(product_id);
CREATE TABLE "Reviews" (
  review_id integer PRIMARY KEY,
  user_id integer NOT NULL REFERENCES "Users"(user_id),
  product_id integer NOT NULL REFERENCES "Products"(product_id),
  rating smallint
);
CREATE INDEX ix_rev_user ON "Reviews"(user_id);
CREATE INDEX ix_rev_product ON "Reviews"(product_id);
CREATE TABLE orders_teste (
  order_id integer PRIMARY KEY,
  user_id integer NOT NULL,
  order_date timestamp,
  total_amount numeric(10,2)
);
CREATE TABLE users_teste (
  id integer PRIMARY KEY,
  username varchar(255),
  email varchar(255)
);
-- composite-FK quirk table (reference app.py:35 keeps only
-- constrained_columns[0]) so the live path also exercises
-- the FK face's ordered-array collapse
CREATE TABLE warehouse_bins (
  warehouse_id integer,
  bin_id integer,
  PRIMARY KEY (warehouse_id, bin_id)
);
CREATE TABLE shipments (
  shipment_id integer PRIMARY KEY,
  warehouse_id integer NOT NULL,
  bin_id integer NOT NULL,
  FOREIGN KEY (warehouse_id, bin_id) REFERENCES warehouse_bins (warehouse_id, bin_id)
);
CREATE INDEX ix_ship_wh ON shipments(warehouse_id);
-- PostgreSQL constraint names are unique only PER TABLE: these two
-- same-named FKs cross-join under an information_schema name join
-- (the bug the pg_constraint-based FK query exists to avoid)
CREATE TABLE dup_a (
  id integer PRIMARY KEY,
  ref_id integer NOT NULL,
  CONSTRAINT fk_dup FOREIGN KEY (ref_id) REFERENCES "Users"(user_id)
);
CREATE TABLE dup_b (
  id integer PRIMARY KEY,
  ref_id integer NOT NULL,
  CONSTRAINT fk_dup FOREIGN KEY (ref_id) REFERENCES "Products"(product_id)
);
-- PK-name ambiguity: a same-named table in ANOTHER schema whose PK
-- constraint carries the same name as public."Users"'s auto-named
-- "Users_pkey", but on a DIFFERENT column. A PK subquery joined on
-- constraint_name alone would (a) duplicate public rows through the
-- tc x kcu cross-match and (b) mark public.Users.username as a
-- primary key it does not have.
CREATE SCHEMA backup;
CREATE TABLE backup."Users" (
  user_id integer,
  username varchar(255) CONSTRAINT "Users_pkey" PRIMARY KEY
);
-- views expose columns but can never expose indexes: auditing them
-- would fire false Rule-1 hits the reference (tables-only
-- reflection) never reports
CREATE VIEW v_users_export AS SELECT username, email FROM "Users";
-- partitioned table: its index lives on relkind 'p'/'I' relations,
-- so an index face restricted to relkind='r' would go blind on it
CREATE TABLE part_events (
  id integer,
  note varchar(300) NOT NULL,
  PRIMARY KEY (id)
) PARTITION BY RANGE (id);
CREATE INDEX ix_part_note ON part_events(note);
CREATE TABLE part_events_p0 PARTITION OF part_events FOR VALUES FROM (0) TO (100);
-- an expression index covers no column (its indkey entry is 0), while
-- an INCLUDE column is covered; the columns face's membership flags
-- and the index face must agree on both
CREATE INDEX ix_users_lower_name ON "Users" (lower(username));
CREATE INDEX ix_orders_id_incl ON "Orders" (order_id) INCLUDE (order_date);
"""


def _have_pg() -> bool:
    if not all(shutil.which(b) for b in ("initdb", "pg_ctl", "psql")):
        return False
    if os.geteuid() == 0:
        try:
            pwd.getpwnam("postgres")
        except KeyError:
            return False
        return shutil.which("runuser") is not None
    return True


pytestmark = pytest.mark.skipif(not _have_pg(), reason="PostgreSQL server binaries not available")


def _as_pg(args: list[str]) -> list[str]:
    if os.geteuid() == 0:
        return ["runuser", "-u", "postgres", "--", *args]
    return args


@pytest.fixture(scope="module")
def pg_host():
    """initdb + start a throwaway server; yield its socket dir."""
    root = tempfile.mkdtemp(prefix="pg_live_")
    data, sock = os.path.join(root, "data"), os.path.join(root, "sock")
    os.makedirs(data)
    os.makedirs(sock)
    if os.geteuid() == 0:
        pg = pwd.getpwnam("postgres")
        os.chmod(root, 0o755)
        for p in (root, data, sock):
            os.chown(p, pg.pw_uid, pg.pw_gid)
    try:
        subprocess.run(
            _as_pg(["initdb", "-D", data, "-A", "trust", "-U", "postgres"]),
            check=True, capture_output=True,
        )
        subprocess.run(
            _as_pg([
                "pg_ctl", "-D", data, "-w",
                "-o", f"-c listen_addresses='' -c unix_socket_directories={sock}",
                "-l", os.path.join(root, "log"), "start",
            ]),
            check=True, capture_output=True,
        )
        for _ in range(50):
            r = subprocess.run(["psql", "-h", sock, "-U", "postgres", "-c", "select 1"],
                               capture_output=True)
            if r.returncode == 0:
                break
            time.sleep(0.2)
        else:
            pytest.skip("postgres failed to accept connections")
        subprocess.run(["psql", "-h", sock, "-U", "postgres", "-X", "-q",
                        "-c", "CREATE DATABASE ecommerce_db"], check=True, capture_output=True)
        subprocess.run(["psql", "-h", sock, "-U", "postgres", "-d", "ecommerce_db", "-X", "-q",
                        "-v", "ON_ERROR_STOP=1", "-c", DDL], check=True, capture_output=True)
        yield sock
    finally:
        subprocess.run(_as_pg(["pg_ctl", "-D", data, "-m", "immediate", "stop"]),
                       capture_output=True)
        shutil.rmtree(root, ignore_errors=True)


def _psql(host: str, database: str, sql: str) -> None:
    subprocess.run(["psql", "-h", host, "-U", "postgres", "-d", database, "-X", "-q",
                    "-v", "ON_ERROR_STOP=1", "-c", sql], check=True, capture_output=True)


# The columns face as it read information_schema before it moved to
# pg_catalog; kept here only as the reference the pg_catalog SQL must
# reproduce row for row.
INFORMATION_SCHEMA_COLUMNS = """
SELECT c.table_catalog AS database,
       c.table_name,
       c.column_name,
       c.ordinal_position AS ordinal,
       c.data_type,
       c.character_maximum_length AS char_max_length,
       (c.is_nullable = 'YES') AS is_nullable,
       NULL::boolean AS is_unique,
       (pk.column_name IS NOT NULL) AS is_primary_key
FROM information_schema.columns c
JOIN information_schema.tables t
  ON  t.table_schema = c.table_schema
  AND t.table_name   = c.table_name
LEFT JOIN (
    SELECT DISTINCT kcu.table_schema, kcu.table_name, kcu.column_name
    FROM information_schema.table_constraints tc
    JOIN information_schema.key_column_usage kcu
      ON  kcu.constraint_schema = tc.constraint_schema
      AND kcu.table_name        = tc.table_name
      AND kcu.constraint_name   = tc.constraint_name
    WHERE tc.constraint_type = 'PRIMARY KEY'
) pk ON pk.table_schema = c.table_schema
    AND pk.table_name   = c.table_name
    AND pk.column_name  = c.column_name
WHERE c.table_schema = 'public'
  AND t.table_type = 'BASE TABLE'
"""

# Column shapes whose information_schema rendering the pg_catalog SQL
# must reproduce: a domain (its base type and length), char(n), arrays
# (plain and of a domain), an enum, a dropped column, a serial PK, a
# partitioned table and its partition, a view, and a same-named table
# in another schema.
PARITY_DDL = """
CREATE DOMAIN label AS varchar(120);
CREATE DOMAIN strict_text AS text NOT NULL;
CREATE TYPE mood AS ENUM ('calm', 'busy');
CREATE TABLE shapes (
  id serial PRIMARY KEY,
  code char(9),
  tags text[],
  name label,
  gone integer,
  note strict_text,
  names label[],
  feeling mood
);
ALTER TABLE shapes DROP COLUMN gone;
CREATE TABLE events (id integer, at timestamptz, PRIMARY KEY (id)) PARTITION BY RANGE (id);
CREATE TABLE events_p0 PARTITION OF events FOR VALUES FROM (0) TO (100);
CREATE VIEW v_shapes AS SELECT id, code FROM shapes;
CREATE SCHEMA other;
CREATE TABLE other.shapes (id integer PRIMARY KEY, code varchar(3));
"""


@pytest.fixture(scope="module")
def live_catalog(spark, pg_host):
    return pg_live.read_catalog_live(spark, "ecommerce_db", pg_host)


def test_live_columns_contract(live_catalog):
    cols, _, _ = live_catalog
    collected = cols.collect()
    rows = {(r.table_name, r.column_name): r for r in collected}
    # 26 ecommerce columns + 2 warehouse_bins + 3 shipments + 4 dup_a/b
    # + 2 part_events + 2 part_events_p0; the backup-schema table and
    # the view contribute nothing
    assert len(rows) == 39
    # no duplicates: the same-named "Users_pkey" in the backup schema
    # must not cross-match public rows through the PK subquery
    assert len(collected) == len(rows)
    assert not rows[("Users", "username")].is_primary_key
    assert "v_users_export" not in {t for t, _ in rows}
    r = rows[("Users", "email")]
    assert (r.data_type, r.char_max_length, r.is_nullable, r.is_primary_key) == ("VARCHAR", 100, True, False)
    assert rows[("Orders", "total_amount")].data_type == "NUMERIC"
    assert rows[("Orders", "order_date")].data_type == "TIMESTAMP"
    assert rows[("Products", "price")].data_type == "FLOAT"
    assert rows[("Reviews", "rating")].data_type == "SMALLINT"
    assert rows[("Users", "user_id")].is_primary_key
    assert rows[("Users", "user_id")].is_unique is None
    flags = {k: (r.is_indexed, r.is_fk_first) for k, r in rows.items()}
    assert flags[("Orders", "user_id")] == (True, True)
    assert flags[("orders_teste", "user_id")] == (False, False)
    # composite FK: only constrained_columns[0] is covered
    assert flags[("shipments", "warehouse_id")] == (True, True)
    assert flags[("shipments", "bin_id")] == (False, False)
    # same-named fk_dup constraints: each covers its own table's column
    assert flags[("dup_a", "ref_id")] == flags[("dup_b", "ref_id")] == (False, True)
    # the expression index covers nothing; the INCLUDE column is covered
    assert flags[("Users", "username")] == (False, False)
    assert flags[("Orders", "order_date")] == (True, False)
    # the partitioned parent's index and its partition's own index
    assert flags[("part_events", "note")] == flags[("part_events_p0", "note")] == (True, False)


def test_membership_flags_match_index_and_fk_faces(live_catalog):
    """The server-computed ``is_indexed``/``is_fk_first`` equal the
    flags derived in Python (as reference app.py:34-35 does) from the
    same read's index and FK faces, over the composite FK, the
    same-named constraints, the partitioned tables, the expression and
    INCLUDE indexes, the view and the second schema."""
    cols, idx, fks = live_catalog
    got = sorted(tuple(r) for r in cols.collect())
    want = sorted(fixtures.flag_membership([r[:9] for r in got], idx.collect(), fks.collect()))
    assert got == want
    assert any(r[9] for r in got) and any(r[10] for r in got)


def test_live_indexes_and_composite_fk(live_catalog):
    _, idx, fks = live_catalog
    idx_rows = {(r.table_name, r.index_name): r for r in idx.collect()}
    assert idx_rows[("Users", "uq_users_email")].is_unique
    assert not idx_rows[("Orders", "ix_orders_user")].is_unique
    assert all(r.table_name not in ("pg_class", "pg_attribute") for r in idx_rows.values())
    # partitioned parent's index (relkind 'p') and the auto-created
    # child index on its partition are both visible
    assert ("part_events", "ix_part_note") in idx_rows
    assert any(t == "part_events_p0" and r.column_name == "note"
               for (t, _n), r in idx_rows.items())
    fk_rows = {(r.table_name, r.constraint_name): r for r in fks.collect()}
    comps = [r for (t, _n), r in fk_rows.items() if t == "shipments"]
    assert len(comps) == 1
    comp = comps[0]
    assert comp.constrained_columns == ["warehouse_id", "bin_id"]
    assert comp.referred_columns == ["warehouse_id", "bin_id"]
    assert comp.referred_table == "warehouse_bins"
    # same-named constraints on different tables must NOT cross-join:
    # each resolves to exactly its own single column and parent
    da = fk_rows[("dup_a", "fk_dup")]
    db = fk_rows[("dup_b", "fk_dup")]
    assert (da.constrained_columns, da.referred_table, da.referred_columns) == (
        ["ref_id"], "Users", ["user_id"])
    assert (db.constrained_columns, db.referred_table, db.referred_columns) == (
        ["ref_id"], "Products", ["product_id"])


def test_transport_distinguishes_null_from_backslash_n(pg_host):
    """COPY text format keeps SQL NULL apart from the literal
    two-character string '\\N' and round-trips tabs/newlines."""
    rows = pg_live.run_sql(
        r"SELECT NULL, '\N', 'a' || chr(9) || 'b', 'x' || chr(10) || 'y', ''",
        "ecommerce_db",
        pg_host,
    )
    assert rows == [[None, "\\N", "a\tb", "x\ny", ""]]


def _other_backends(host: str) -> int:
    """Client connections to the server, not counting the one asking."""
    return int(pg_live.run_sql(
        "SELECT count(*) FROM pg_stat_activity"
        " WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()",
        "postgres", host,
    )[0][0])


@pytest.mark.parametrize("database,sql,cause", [
    ("nosuchdb", "SELECT 1", 'database "nosuchdb" does not exist'),
    ("ecommerce_db", "SELECT * FROM no_such_table", 'relation "no_such_table" does not exist'),
    # fails after the COPY has started streaming rows: the final result
    # carries the error
    ("ecommerce_db", "SELECT 1 / (3 - x) FROM generate_series(1, 5) x", "division by zero"),
])
def test_failure_names_its_cause_and_leaks_no_connection(pg_host, database, sql, cause):
    before = _other_backends(pg_host)
    with pytest.raises(RuntimeError, match=re.escape(cause)):
        pg_live.run_sql(sql, database, pg_host)
    # a closed connection's backend exits just after the client leaves;
    # a leaked one would stay
    for _ in range(50):
        if _other_backends(pg_host) == before:
            break
        time.sleep(0.05)
    assert _other_backends(pg_host) == before


def test_client_encoding_is_utf8_whatever_the_environment(pg_host, monkeypatch):
    """Non-ASCII identifiers arrive intact with ``PGCLIENTENCODING``
    set to an encoding that cannot hold them."""
    _psql(pg_host, "postgres", "DROP DATABASE IF EXISTS enc_db")
    _psql(pg_host, "postgres", "CREATE DATABASE enc_db ENCODING 'UTF8'"
                               " LC_COLLATE 'C' LC_CTYPE 'C' TEMPLATE template0")
    _psql(pg_host, "enc_db", 'CREATE TABLE "Café" ("prix_€" integer, "naïve" text)')
    monkeypatch.setenv("PGCLIENTENCODING", "LATIN1")
    rows = pg_live.run_sql(
        "SELECT c.relname, a.attname FROM pg_attribute a JOIN pg_class c ON c.oid = a.attrelid"
        " WHERE c.relname = 'Café' AND a.attnum > 0 ORDER BY a.attnum",
        "enc_db", pg_host,
    )
    assert rows == [["Café", "prix_€"], ["Café", "naïve"]]


def test_live_rules_match_duckdb_oracle(spark, live_catalog):
    """Engine-vs-oracle over the LIVE rows: render the rules oracle
    from the tuples just read out of PostgreSQL and compare in full."""
    import duckdb

    cols, idx, fks = live_catalog
    # the oracle derives membership from the index and FK faces itself,
    # so only the 9 reflected column fields go in
    col_t = [tuple(r)[:9] for r in cols.collect()]
    idx_t = [tuple(r) for r in idx.collect()]
    fk_t = [tuple(r) for r in fks.collect()]

    got = [tuple(r) for r in detect_schema_flaws(cols, idx, fks).drop("rule_id").collect()]
    want = [tuple(r)[:-1] for r in duckdb.connect().execute(
        _rules_oracle_sql(col_t, idx_t, fk_t)).fetchall()]
    assert sorted(got) == sorted(want)
    assert len(got) >= 19


def test_live_scenario_matches_fixture(spark, live_catalog):
    """The live DDL reproduces the reference scenario: same rule hits
    as the MySQL-flavored fixture, plus exactly the deltas PostgreSQL's
    type system forces (no DATETIME → Rule 4 fires on order_date) and
    the quirks composite-FK table carried in the same database."""
    cols, idx, fks = live_catalog
    live = {
        (r.table, r.column, r.rule_id)
        for r in detect_schema_flaws(cols, idx, fks).collect()
    }
    fixture = {
        (r.table, r.column, r.rule_id)
        for r in detect_schema_flaws(
            fixtures.columns_meta(spark, "ecommerce_db"),
            fixtures.indexes_meta(spark, "ecommerce_db"),
            fixtures.foreign_keys_meta(spark, "ecommerce_db"),
        ).collect()
    }
    expected_extra = {
        ("Orders", "order_date", 4),
        ("orders_teste", "order_date", 4),
        # composite-FK quirk: app.py:35 keeps constrained_columns[0]
        # only, so the FK's tail column stays uncovered (the fixture
        # pins the same behavior in quirks_db); warehouse_bins' own
        # id-columns are its PK, so Rule 2 skips them
        ("shipments", "bin_id", 2),
    }
    assert live - fixture == expected_extra
    assert fixture - live == set()


def test_cli_main_runs_against_live_postgres(spark, pg_host, capsys, monkeypatch):
    """The reference's primary UX — `python app.py` against a live
    database (reference app.py:122-137, README.md:43-50) — end to
    end: DB_URL routes to the live reader, the report prints the
    5-line blocks."""
    from rdbms_metadata_manager_spark.__main__ import main

    monkeypatch.setenv("DB_URL", f"psql:///ecommerce_db?host={pg_host}")
    monkeypatch.setenv("EXPORT_TO_CSV", "NO")
    assert main() == 0
    out = capsys.readouterr().out
    assert "Issue Type: Query performance - missing index" in out
    assert "Critical column 'email' allows NULL values." in out
    # pg's DATETIME-less type system adds the two order_date Rule-4
    # rows and the composite-FK table adds one Rule-2 row on top of
    # the fixture's 18-issue golden set: 18 + 3
    assert out.count("Issue Type:") == 21


@pytest.mark.parametrize("database", ["ecommerce_db", "parity_db"])
def test_columns_face_matches_information_schema(pg_host, database):
    """The pg_catalog columns face returns exactly the rows the
    information_schema SQL returned, text for text, in the 9 reflected
    fields (information_schema has no membership flags)."""
    from rdbms_metadata_manager_spark.catalog.faces import _PG_COLUMNS_QUERY

    if database == "parity_db":
        _psql(pg_host, "postgres", "DROP DATABASE IF EXISTS parity_db")
        _psql(pg_host, "postgres", "CREATE DATABASE parity_db")
        _psql(pg_host, "parity_db", PARITY_DDL)
    got = sorted(r[:9] for r in pg_live.run_sql(_PG_COLUMNS_QUERY, database, pg_host))
    want = sorted(pg_live.run_sql(INFORMATION_SCHEMA_COLUMNS, database, pg_host))
    assert got == want
    if database == "parity_db":
        rows = {(r[1], r[2]): r[4:] for r in got}  # data_type onwards
        assert rows[("shapes", "name")][:2] == ["character varying", "120"]
        assert rows[("shapes", "code")][:2] == ["character", "9"]
        assert rows[("shapes", "tags")][0] == rows[("shapes", "names")][0] == "ARRAY"
        assert rows[("shapes", "note")][2] == "f"  # the domain's NOT NULL
        assert ("shapes", "gone") not in rows and ("v_shapes", "id") not in rows
        assert {("events", "id"), ("events_p0", "id")} <= set(rows)


def test_one_round_trip_read_matches_per_face_reads(spark, pg_host, live_catalog):
    """The face-tagged single read gives the same three contracts as
    running each face's own SQL in its own round trip."""
    from rdbms_metadata_manager_spark.catalog import faces
    from rdbms_metadata_manager_spark.catalog.fixtures import _local_df

    def fetch(sql, schema):
        rows = pg_live.run_sql(sql, "ecommerce_db", pg_host)
        return _local_df(spark, faces.coerce(rows, schema, "t"), schema)

    for face, tagged in zip(faces.FACES, live_catalog):
        single = faces.read_face(face, "postgresql", "ecommerce_db", fetch)
        assert tagged.schema == single.schema
        assert sorted(map(tuple, tagged.collect())) == sorted(map(tuple, single.collect()))


def test_cli_reports_empty_schema_and_exports_nothing(spark, pg_host, capsys, monkeypatch, tmp_path):
    """A catalog with no tables: the CLI prints the reference's
    no-issues line (app.py:127-133) and writes no CSV, even when asked
    to export."""
    from rdbms_metadata_manager_spark.__main__ import main

    _psql(pg_host, "postgres", "DROP DATABASE IF EXISTS empty_db")
    _psql(pg_host, "postgres", "CREATE DATABASE empty_db")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("DB_URL", f"psql:///empty_db?host={pg_host}")
    monkeypatch.setenv("EXPORT_TO_CSV", "YES")
    assert main() == 0
    out = capsys.readouterr().out
    assert 'No issues detected in schema "empty_db".' in out
    assert "Results exported" not in out
    assert not (tmp_path / "exports").exists()


def test_live_audit_runs_at_most_2_jobs(spark, pg_host, tmp_path, capsys):
    """On the live path the audit is one projection with no join too:
    reading the catalog, the audit, the console report and the CSV stay
    within 2 Spark jobs: the rules collect and the CSV sink's Arrow
    fetch of the issues (the sink runs no write job)."""
    from rdbms_metadata_manager_spark.sinks import print_report, write_csv

    sc = spark.sparkContext
    group = "test-live-audit-jobs"
    sc.setJobGroup(group, "read_catalog_live + audit + print_report + write_csv")
    try:
        cols, idx, fks = pg_live.read_catalog_live(spark, "ecommerce_db", pg_host)
        issues = detect_schema_flaws(cols, idx, fks)
        assert print_report(issues, "ecommerce_db") == 21
        write_csv(issues, str(tmp_path / "issues.csv"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 2
    assert "Table: Users" in capsys.readouterr().out
