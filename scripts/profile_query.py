#!/usr/bin/env python
"""Per-query profiler for the optimization rounds.

For each query name given on the command line (or --top N slowest from
BENCH_FULL.json): build the query twice (first build pays memo costs),
time K noop materializations, count the Spark jobs launched by one
warm build+materialize cycle (high job counts = eager driver-guided
kernels paying the per-action dispatch floor repeatedly), and write
the formatted plan to plans/<round>/<name>_<tag>.txt.

Usage:
  python scripts/profile_query.py --tag before ktruss_copurchase_edges ...
  python scripts/profile_query.py --tag before --top 30
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdbms_metadata_manager_spark.registry import all_queries  # noqa: E402
from rdbms_metadata_manager_spark.session import get_spark, spark_cpus  # noqa: E402


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0, help="profile the N slowest from BENCH_FULL.json")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--round", default="r09")
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = list(args.names)
    if args.top:
        with open(os.path.join(here, "BENCH_FULL.json")) as f:
            bench = json.load(f)["queries"]
        names += sorted(bench, key=bench.get, reverse=True)[: args.top]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(here, "plans", args.round)
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("profile")
    sc = spark.sparkContext
    queries = all_queries()
    # Warm the worker pool like bench.py does.
    warm = spark.range(0, 64).repartition(spark_cpus())
    materialize(warm.mapInPandas(lambda it: it, "id long"))

    report = {}
    for name in names:
        fn = queries[name]
        sc.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)  # first build: memo costs land here
        materialize(df)
        cold = time.perf_counter() - t0

        # Warm cycle with job counting: one build + one materialize.
        group = f"prof_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        materialize(df)
        warm_s = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))

        samples = [warm_s]
        for _ in range(args.samples - 1):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)

        if not args.no_plan:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)

        report[name] = {
            "cold_s": round(cold, 3),
            "warm_min_s": round(min(samples), 3),
            "build_s": round(build_s, 3),
            "jobs_per_cycle": jobs,
        }
        print(
            f"{name}: warm_min={min(samples):.3f}s build={build_s:.3f}s "
            f"cold={cold:.3f}s jobs={jobs}",
            flush=True,
        )

    out = os.path.join(here, "plans", args.round, f"profile_{args.tag}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
