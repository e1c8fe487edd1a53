#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload audit_pg --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. Workloads (see ``workloads.py``):

- ``audit_pg``: a throwaway PostgreSQL holding a seeded synthetic
  catalog; each op reads the live catalog, runs the 5 schema rules and
  writes the console report and the CSV.
- ``analytics_warm``: a fixed mix of registry queries over a seeded
  synthetic corpus, run in a seeded order each cycle; memos are built
  by the untimed warmup.
- ``analytics_cold``: the same mix with every memo evicted (untimed)
  before each op, so eager memo and model builds are on the timed path.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics, taken from spans
around the calls into each package module (every other cycle of
the mix is traced, and the rest give the untraced baseline for the
tracing overhead). The environment (load average, CPU steal, a
calibration kernel before and after the window) is printed with every
run and kept, with every latency sample and the spans, in
``perfbench/results/``.

``--seconds`` sizes the window: it holds whole cycles of the mix,
enough for ``--seconds`` at the workload's nominal op rate and never
fewer than ``MIN_OPS`` ops. The op count is thus fixed by the
arguments, not by how fast the code is, and the tail percentile
always has ``latency.TAIL_BEYOND`` samples beyond it. ``setup_s`` runs
from process start to the end of set-up; the calibration kernel runs
after it. All scratch files live in ``perfbench/.work/`` and are
removed at exit; every process the run starts is stopped and waited
for.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the package under test; HERE is sys.path[0]

import latency  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

# Two task slots, not one per core: each op is a chain of small Spark
# jobs, and on a shared 4-vCPU host 4 slots ran them about 20% slower
# and with more CPU steal than 2 (3 alternating pairs, every pair).
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
MIN_OPS = 24  # so the tail (10 beyond) sits above the median (at p58 or higher)
RSS_REFRESH_OPS = 8  # re-list the process tree for the RSS sampler this often

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_ops_per_min": "1/min",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}

# (metric, unit) in report order; per op, means over the traced ops
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.columns_s": "s",
    "catalog.indexes_s": "s",
    "catalog.fks_s": "s",
    "catalog.rows": "count",
    "catalog.db_cpu_s": "s",
    "rules.plan_s": "s",
    "rules.exec_s": "s",
    "rules.issues": "count",
    "sinks.report_s": "s",
    "sinks.csv_s": "s",
    "sinks.bytes_written": "bytes",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "memo.entries_built": "count",
    "memo.clear_s": "s",
    "setup.queries_build_s": "s",
    "setup.memo_entries": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "jvm.cpu_s_per_op": "s",
    "op.wall_s": "s",
    "trace.overhead_ratio": "ratio",
    "env.loadavg_start": "load",
    "env.loadavg_end": "load",
    "env.steal_frac": "ratio",
    "env.calib_ratio": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="run every workload once, briefly")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke is given")
    return args


def configure_environment(work: str) -> None:
    """Keep the session inside the checkout: scratch and temp files go
    to ``work``; Spark runs on ``CPUS`` cores with a pinned driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (the spark-submit launcher too): temp files in the
    # checkout, no hsperfdata files under /tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the driver heap is sized once (-Xms = -Xmx) rather than grown on
    # the collector's timing, so peak RSS repeats from run to run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEMORY} --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={tmp} pyspark-shell"
    )


def instrument_catalog(tracer: Tracer) -> None:
    """Spans around the live-catalog reader's three public reads, and a
    row count on its transport. Patched from outside; inactive spans
    cost one attribute test."""
    from rdbms_metadata_manager_spark.catalog import pg_live

    def spanned(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    for attr, name in [
        ("read_columns_meta_live", "catalog.columns"),
        ("read_indexes_meta_live", "catalog.indexes"),
        ("read_foreign_keys_meta_live", "catalog.fks"),
    ]:
        setattr(pg_live, attr, spanned(name, getattr(pg_live, attr)))

    run_sql = pg_live.run_sql

    @functools.wraps(run_sql)
    def counted(*args, **kwargs):
        rows = run_sql(*args, **kwargs)
        tracer.add("rows", len(rows))
        return rows

    pg_live.run_sql = counted


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stages += 1
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), stages, tasks


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit; also
    when the JVM has already died, as on a signal sent to the whole
    process group."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def wait_for_children(timeout_s: float = 30.0) -> list[int]:
    """Wait until this process has no descendants; returns stragglers."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
        if not left or time.monotonic() > deadline:
            return left
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def window_cycles(seconds: float, ops_per_s: float, cycle_len: int) -> int:
    """Whole cycles in a window: ``seconds`` at the nominal op rate,
    and at least ``MIN_OPS`` ops."""
    ops = max(MIN_OPS, math.ceil(seconds * ops_per_s))
    return math.ceil(ops / cycle_len)


def measure(wl, tracer: Tracer, spark, rss, seconds: float, seed: int, trace: bool) -> dict:
    """The timed window: a fixed number of whole cycles (``window_cycles``).
    With ``trace``, every other cycle is traced, so the traced and the
    untraced ops run the same mix."""
    sc = spark.sparkContext
    java = procstat.find_java(os.getpid())
    rng = random.Random(f"order-{seed}")
    samples: list[dict] = []
    groups: dict[str, dict] = {}  # job group -> the op span's counts
    untimed = 0.0  # memo clears, and the traced ops' extra rule execution
    steal0 = procstat.cpu_counters()
    start = time.perf_counter()
    for cycle in range(window_cycles(seconds, wl.OPS_PER_S, wl.CYCLE_LEN)):
        traced = trace and cycle % 2 == 0
        for label in wl.cycle(rng):
            op = len(samples)
            wl.op_counts = {}
            tracer.active, tracer.op_id = traced, op
            if traced:
                sc.setJobGroup(f"perfbench-op{op}", label)
            t = time.perf_counter()
            wl.before_op()
            untimed += time.perf_counter() - t
            memo0, jvm0, db0 = workloads.memo_entries(), procstat.process_cpu_s(java), wl.db_cpu_s()
            elapsed = None
            with tracer.span("op") as op_span:
                try:
                    elapsed = wl.run_op(label)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
            untimed += wl.op_counts.pop("untimed_s", 0.0)
            counts = op_span["counts"]
            counts.update(
                jvm_cpu_s=procstat.process_cpu_s(java) - jvm0 - wl.op_counts.pop("untimed_jvm_cpu_s", 0.0),
                db_cpu_s=wl.db_cpu_s() - db0,
                memo_built=workloads.memo_entries() - memo0,
            )
            try:
                ok = elapsed is not None and wl.verify_op(label)
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
            counts.update(wl.op_counts)
            if traced:
                groups[f"perfbench-op{op}"] = counts
                sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.active = False
            samples.append({"op": op, "label": label, "latency_s": elapsed, "ok": ok, "traced": traced})
            if len(samples) % RSS_REFRESH_OPS == 0:
                rss.refresh()
    window_s = time.perf_counter() - start - untimed
    steal1 = procstat.cpu_counters()
    if groups:
        time.sleep(0.5)  # let the listener bus deliver the last job events
        for group, counts in groups.items():
            counts["jobs"], counts["stages"], counts["tasks"] = job_counts(sc, group)
    return {
        "samples": samples,
        "window_s": window_s,
        "steal_frac": procstat.steal_fraction(steal0, steal1),
    }


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def end_to_end(samples: list[dict], window_s: float, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """The end-to-end metrics. Throughput is successful ops per minute of
    the window's wall time, which counts everything between ops except
    the untimed memo clears and traced-only rule execution."""
    lat = [s["latency_s"] for s in samples if s["ok"]]
    if len(lat) <= latency.TAIL_BEYOND:
        raise RuntimeError(f"only {len(lat)} of {len(samples)} ops succeeded; see the errors above")
    tail, pct = latency.tail(lat)
    values = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "throughput_ops_per_min": 60.0 * len(lat) / window_s,
        "success_rate": len(lat) / len(samples),
        "peak_rss_mb": peak_rss / 2**20,
    }
    return values, {"tail_percentile": pct, "samples": len(lat), "beyond": latency.TAIL_BEYOND}


def per_layer(tracer: Tracer, samples: list[dict], session_s: float, setup: dict, env: dict) -> dict:
    traced = [s["latency_s"] for s in samples if s["traced"] and s["ok"]]
    untraced = [s["latency_s"] for s in samples if not s["traced"] and s["ok"]]
    secs, count = tracer.per_op_seconds, tracer.per_op_count
    return {
        "session.start_s": session_s,
        "catalog.columns_s": mean(secs("catalog.columns")),
        "catalog.indexes_s": mean(secs("catalog.indexes")),
        "catalog.fks_s": mean(secs("catalog.fks")),
        "catalog.rows": mean(count("rows")),
        "catalog.db_cpu_s": mean(count("db_cpu_s")),
        "rules.plan_s": mean(secs("rules.plan")),
        "rules.exec_s": mean(secs("rules.exec")),
        "rules.issues": mean(count("issues")),
        "sinks.report_s": mean(secs("sinks.report")),
        "sinks.csv_s": mean(secs("sinks.csv")),
        "sinks.bytes_written": mean(count("bytes_written")),
        "queries.build_s": mean(secs("queries.build")),
        "queries.exec_s": mean(secs("queries.exec")),
        "memo.entries_built": mean(count("memo_built")),
        "memo.clear_s": mean(secs("memo.clear")),
        "setup.queries_build_s": setup.get("queries_build_s", 0.0),
        "setup.memo_entries": setup.get("memo_entries", 0),
        "spark.jobs_per_op": mean(count("jobs")),
        "spark.stages_per_op": mean(count("stages")),
        "spark.tasks_per_op": mean(count("tasks")),
        "jvm.cpu_s_per_op": mean(count("jvm_cpu_s")),
        "op.wall_s": mean(traced),
        "trace.overhead_ratio": statistics.median(traced) / statistics.median(untraced),
        "env.loadavg_start": env["loadavg_start"],
        "env.loadavg_end": env["loadavg_end"],
        "env.steal_frac": env["steal_frac"],
        "env.calib_ratio": env["calib_ratio"],
    }


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    """One benchmark run; returns (final result line, full record)."""
    boot_start = procstat.process_start_boottime_s()
    env = {}
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    configure_environment(work)
    tracer = Tracer()
    wl = workloads.make(args.workload, args.seed, work, tracer)
    if args.trace and args.workload == "audit_pg":
        instrument_catalog(tracer)
    spark = None
    phases: dict[str, float] = {}
    try:
        with procstat.TreeRssSampler(os.getpid()) as rss:
            from rdbms_metadata_manager_spark.session import get_spark

            with ThreadPoolExecutor(max_workers=1) as pool:
                host = pool.submit(_timed, wl.host_setup)
                t = time.perf_counter()
                spark = get_spark("perfbench")
                phases["session.start_s"] = time.perf_counter() - t
                phases["host_setup_s"] = host.result()
            phases["spark_setup_s"] = _timed(wl.spark_setup, spark)
            setup_s = procstat.boottime_s() - boot_start
            rss.rescan = False
            rss.refresh()
            env["loadavg_start"] = procstat.loadavg_1m()
            env["calib_before_s"] = procstat.calibration_s()
            window = measure(wl, tracer, spark, rss, args.seconds, args.seed, trace=bool(args.trace))
        env["steal_frac"] = window["steal_frac"]
    finally:
        # every step runs even when an earlier one fails (last in, first out)
        with contextlib.ExitStack() as cleanup:
            cleanup.callback(shutil.rmtree, work, ignore_errors=True)
            if spark is not None:
                cleanup.callback(stop_spark, spark)
            cleanup.callback(wl.close)
    env["loadavg_end"] = procstat.loadavg_1m()
    env["calib_after_s"] = procstat.calibration_s()
    env["calib_ratio"] = env["calib_after_s"] / env["calib_before_s"]
    samples = window["samples"]
    e2e, tail_info = end_to_end(samples, window["window_s"], setup_s, rss.peak_bytes)
    if args.trace:
        metrics = per_layer(tracer, samples, phases["session.start_s"], wl.setup_counts, env)
        units = PER_LAYER_UNITS
    else:
        metrics, units = e2e, END_TO_END_UNITS
    failed = sum(not s["ok"] for s in samples)
    result = {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": CPUS, "driver_memory": DRIVER_MEMORY, "end_to_end": e2e, "tail": tail_info,
        "setup_phases": phases, "setup_counts": wl.setup_counts, "window_s": window["window_s"],
        "env": env, "samples": samples, "result": result, "rss_series": rss.series,
    }
    if args.trace:
        record["spans"] = tracer.spans
    return result, record


def _timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def report(record: dict) -> None:
    """Human-readable lines ahead of the result line."""
    e2e, tail_info, env = record["end_to_end"], record["tail"], record["env"]
    r = record["result"]
    print(f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']}: "
          f"{r['attempted']} ops, {r['failed']} failed, local[{record['cpus']}]")
    for name, unit in END_TO_END_UNITS.items():
        extra = ""
        if name.startswith("latency"):
            extra = f"  (n={tail_info['samples']}"
            if name == "latency_tail_s":
                extra += f", p{tail_info['tail_percentile']:.1f}, {tail_info['beyond']} beyond"
            extra += ")"
        if name == "throughput_ops_per_min":
            extra = f"  ({tail_info['samples']} ok ops in a {record['window_s']:.1f} s window)"
        print(f"  {name:24s} {e2e[name]:12.4f} {unit}{extra}")
    print(json.dumps({"env": env, "setup_phases": record["setup_phases"]}))


def smoke() -> int:
    """Every workload once, traced, each in its own process: prints each
    run's report, and checks that its outputs were correct and that every
    per-layer metric was reported."""
    status = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", "1", "--seconds", "0", "--trace", "1"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if out.returncode == 0 and lines else {}
        ok = result.get("correct") is True and set(result["metrics"]) == set(PER_LAYER_UNITS)
        print("\n".join(lines), flush=True)
        print(f"smoke {name}: {'ok' if ok else 'FAILED'}", flush=True)
        if not ok:
            sys.stderr.write(out.stderr[-4000:])
            status = 1
    return status


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through the cleanup in run()


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    try:
        import rdbms_metadata_manager_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable: {e}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload == "audit_pg":
        import pgserver

        why = pgserver.available()
        if why:
            print(f"perfbench: cannot provision PostgreSQL: {why}", file=sys.stderr)
            return 2
    result, record = run(args)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f)
    report(record)
    stragglers = wait_for_children()
    if stragglers:
        print(f"perfbench: processes still running at exit: {stragglers}", file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
