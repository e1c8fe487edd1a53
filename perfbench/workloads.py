"""The benchmark's workloads: one client, closed loop, one op at a time.

Each workload has a host-side setup that may run while the Spark
session starts, a Spark-side setup (warmup and oracle checks), and an
op. The op is the only timed part; ``before_op`` and ``verify_op`` run
outside the timed region.

A run's window is a fixed number of whole cycles (``cycle``), sized
from ``--seconds`` with the workload's nominal ``OPS_PER_S``, so the
sample count never depends on how fast the code under test is.
``op_counts`` holds what the last op adds to its span's counts;
``untimed_s`` and ``untimed_jvm_cpu_s`` there are work a traced op did
that is not part of the op (the caller takes them out of the window
and the JVM CPU). ``setup_counts`` holds what set-up did in the layers
an op may also use.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import io
import os
import random
import time
from contextlib import redirect_stdout

import procstat
import synth_catalog
import synth_corpus
from oracle import duckdb_connection, duckdb_hash, result_hash
from pgserver import PgServer
from spans import Tracer

# A fixed mix of registry queries for the analytics session:
# relational TPC-H shapes, statistics rollups that sit at the job
# dispatch floor, and LLM-data operators backed by per-session memos
# (MinHash signatures, IVF centroids, PQ codebooks).
MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "welch_t_ab",
    "kendall_tau_daily",
    "dedup_minhash_lsh",
    "similarity_ivf_search",
    "pq_adc_search",
]


def materialize(df) -> None:
    """Run the whole plan without collecting it (as ``bench.py`` does)."""
    df.write.mode("overwrite").format("noop").save()


class AuditPg:
    """Live PostgreSQL catalog -> 5 schema rules -> console report + CSV."""

    N_TABLES = 60
    CYCLE_LEN = 1
    OPS_PER_S = 0.6  # nominal: about 1.5 s an op at 60 tables, 2 task slots
    # untimed ops before the window: the first op carries the session's
    # one-time class loading and code generation, and the next few are
    # still faster each time while the JVM compiles hot paths (with 3,
    # JVM CPU per op still fell by a third over the next dozen ops; more
    # warmup would not fit the run-time budget)
    WARMUP_OPS = 4

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.server: PgServer | None = None
        self.op_counts: dict[str, float] = {}
        self.setup_counts: dict[str, float] = {}
        self.csv_path = os.path.join(work, "issues.csv")

    def host_setup(self) -> None:
        import duckdb

        from rdbms_metadata_manager_spark.queries.metadata import _rules_oracle_sql

        cat = synth_catalog.generate(self.seed, self.N_TABLES)
        self.server = PgServer(os.path.join(self.work, "pg"))
        self.server.start()
        self.server.execute("postgres", f"CREATE DATABASE {synth_catalog.DATABASE}", transaction=False)
        self.server.execute(synth_catalog.DATABASE, cat.ddl)
        # the catalog reader's psql finds the server port here
        os.environ["PGPORT"] = str(self.server.port)
        rows = duckdb.connect().execute(_rules_oracle_sql(cat.columns, cat.indexes, cat.fks)).fetchall()
        self.expected_csv = csv_hash(
            [("Table", "Column", "Issue Type", "Issue", "Recommendation")] + [r[:5] for r in rows]
        )

    def spark_setup(self, spark) -> None:
        self.spark = spark
        self.java = procstat.find_java(os.getpid())
        for _ in range(self.WARMUP_OPS):
            self.run_op("audit")
            if not self.verify_op("audit"):
                raise RuntimeError("warmup audit CSV does not match the rules oracle")

    def cycle(self, rng: random.Random) -> list[str]:
        return ["audit"]

    def db_cpu_s(self) -> float:
        return self.server.cpu_s()

    def before_op(self) -> None:
        pass

    def run_op(self, label: str) -> float:
        from rdbms_metadata_manager_spark.catalog import pg_live
        from rdbms_metadata_manager_spark.rules import detect_schema_flaws
        from rdbms_metadata_manager_spark.sinks.report import print_report, write_csv

        t = self.tracer
        untimed = 0.0
        start = time.perf_counter()
        with t.span("catalog.read"):
            cols, idx, fks = pg_live.read_catalog_live(self.spark, synth_catalog.DATABASE, PgServer.host)
        with t.span("rules.plan"):
            issues = detect_schema_flaws(cols, idx, fks)
        if t.active:
            untimed = self._rules_exec(issues)
        with t.span("sinks.report"):
            with redirect_stdout(io.StringIO()):
                print_report(issues, synth_catalog.DATABASE)
        with t.span("sinks.csv"):
            write_csv(issues, self.csv_path)
        return time.perf_counter() - start - untimed

    def _rules_exec(self, issues) -> float:
        """Traced ops only: execute the rule plan on its own, so its cost
        shows apart from the sinks. It is not part of the op: its wall
        time is returned for the caller to subtract, its JVM CPU goes to
        ``untimed_jvm_cpu_s``, and its Spark jobs run outside the op's
        job group."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", None)
        cpu0 = procstat.process_cpu_s(self.java)
        try:
            with self.tracer.span("rules.exec") as s:
                materialize(issues)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)
        self.op_counts["untimed_jvm_cpu_s"] = procstat.process_cpu_s(self.java) - cpu0
        self.op_counts["untimed_s"] = s["end"] - s["start"]
        return self.op_counts["untimed_s"]

    def verify_op(self, label: str) -> bool:
        rows = read_csv_dir(self.csv_path)
        files = glob.glob(os.path.join(self.csv_path, "*"))
        self.op_counts["bytes_written"] = sum(os.path.getsize(f) for f in files)
        self.op_counts["issues"] = len(rows) - 1  # minus the header
        return csv_hash(rows) == self.expected_csv

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()


def read_csv_dir(path: str) -> list[tuple[str, ...]]:
    """Rows of the CSV part files Spark wrote under ``path``, fields
    stripped (Spark's CSV writer trims surrounding whitespace)."""
    rows: list[tuple[str, ...]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="") as f:
            rows += [tuple(x.strip() for x in r) for r in csv.reader(f, escapechar="\\")]
    return rows


def csv_hash(rows: list[tuple]) -> str:
    """Hash of the rows in order (the report order is part of the contract)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(str(x).strip() for x in r)).encode())
    return h.hexdigest()


class Analytics:
    """An interactive analytics session over one corpus. ``cold`` evicts
    every memo before each op, as a session moving between corpora does."""

    CYCLE_LEN = len(MIX)
    OPS_PER_S = 2.0  # nominal: about 0.5 s an op, 2 task slots

    def __init__(self, seed: int, work: str, tracer: Tracer, cold: bool):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.cold = cold
        self.verified: dict[str, bool] = {}
        self.op_counts: dict[str, float] = {}
        self.setup_counts: dict[str, float] = {}

    def host_setup(self) -> None:
        """Write the corpus and hash every query's DuckDB oracle result."""
        from rdbms_metadata_manager_spark.registry import all_oracles

        self.corpus = synth_corpus.write(self.seed, os.path.join(self.work, "corpus"))
        oracles = all_oracles()
        con = duckdb_connection(self.corpus)
        try:
            self.expected = {name: duckdb_hash(con, oracles[name]) for name in MIX}
        finally:
            con.close()

    def spark_setup(self, spark) -> None:
        """Oracle pass, then one untimed cycle of ops. In the oracle pass
        every query in the mix runs once, its output is hash-checked
        against its oracle, and the per-session memos it builds stay in
        place. Records the time spent in the registry calls, where eager
        memo and model builds run, and the number of memo entries the pass
        built. The untimed cycle lets the JVM compile the ops' hot paths
        (without it, the window's first cycle ran up to 1.5x slower)."""
        from rdbms_metadata_manager_spark.registry import all_queries

        self.spark = spark
        self.queries = all_queries()
        build_s, entries0 = 0.0, memo_entries()
        for name in MIX:
            t = time.perf_counter()
            df = self.queries[name](spark, self.corpus)
            build_s += time.perf_counter() - t
            self.verified[name] = result_hash(df.columns, [tuple(r) for r in df.collect()]) == self.expected[name]
        self.setup_counts = {"queries_build_s": build_s, "memo_entries": memo_entries() - entries0}
        for name in MIX:
            self.run_op(name)

    def cycle(self, rng: random.Random) -> list[str]:
        order = list(MIX)
        rng.shuffle(order)
        return order

    def db_cpu_s(self) -> float:
        return 0.0

    def before_op(self) -> None:
        if self.cold:
            from rdbms_metadata_manager_spark.memo import clear_memos

            with self.tracer.span("memo.clear"):
                self.op_counts["evicted"] = clear_memos()

    def run_op(self, name: str) -> float:
        t = self.tracer
        start = time.perf_counter()
        with t.span("queries.build"):
            df = self.queries[name](self.spark, self.corpus)
        with t.span("queries.exec"):
            materialize(df)
        return time.perf_counter() - start

    def verify_op(self, name: str) -> bool:
        return self.verified[name]

    def close(self) -> None:
        pass


def memo_entries() -> int:
    """Entries held by every registered memo: what ``clear_memos`` would
    evict now."""
    from rdbms_metadata_manager_spark import memo

    return sum(len(cache) for cache in memo._REGISTRY)


def make(name: str, seed: int, work: str, tracer: Tracer):
    if name == "audit_pg":
        return AuditPg(seed, work, tracer)
    if name in ("analytics_warm", "analytics_cold"):
        return Analytics(seed, work, tracer, cold=name == "analytics_cold")
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["audit_pg", "analytics_warm", "analytics_cold"]
