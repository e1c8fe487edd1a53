#!/usr/bin/env python
"""Mechanical freeze certification (VERDICT r7 item 6).

The r7 nit: freeze notes claimed a 996-test suite while HEAD had 997 —
hand-copied numbers drift the moment anything lands after the claim.
This script regenerates EVERY claimed number at the current HEAD and
writes them to FREEZE_r{N}.md in one shot, so the claims are exactly as
fresh as the replay artifact (which it also regenerates):

1. full pytest suite → passed / skipped counts
2. full-registry pristine replay → REPLAY_FULL_r{N}.json (n_green/n_total)
3. bench at sf0.1 → BENCH_FULL.json totals + the r7 tide-suspect rows
4. environment probes (mysqld, libpq) → blocked/available

Usage:
    python scripts/freeze_certify.py --round 9 [--skip-suite] [--skip-bench]

Each stage shells out to the exact command a human would run; nothing
is cached between stages. Exit code 0 only if suite green AND replay
all-green. Stage crashes (replay subprocess dying before its artifact
exists, a _run timeout) are RECORDED in the report and still produce a
FREEZE_r{N}.md with a failed status instead of a bare traceback
(ADVICE r8 #3) — exit stays nonzero either way, so no false
certification is possible.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import traceback

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], timeout: int) -> tuple[int, str]:
    p = subprocess.run(
        cmd, cwd=_REPO, timeout=timeout, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
    )
    return p.returncode, p.stdout


def _libpq_loads() -> bool:
    """Whether the live PostgreSQL reader's client library loads."""
    from rdbms_metadata_manager_spark.catalog import pg_live

    try:
        pg_live._libpq()
    except OSError:
        return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--skip-suite", action="store_true")
    ap.add_argument("--skip-bench", action="store_true")
    args = ap.parse_args()
    rn = args.round

    head = _run(["git", "rev-parse", "--short", "HEAD"], 30)[1].strip()
    dirty = bool(_run(["git", "status", "--porcelain"], 30)[1].strip())

    sys.path.insert(0, _REPO)
    from rdbms_metadata_manager_spark.registry import all_queries

    n_registry = len(all_queries())

    report: dict[str, object] = {
        "head": head,
        "dirty_tree": dirty,
        "registry": n_registry,
    }

    def _stage_error(exc: BaseException) -> dict[str, object]:
        return {
            "failed": True,
            "error": f"{type(exc).__name__}: {exc}",
            "traceback": traceback.format_exc(limit=3),
        }

    # 1. full-registry pristine replay (regenerates the gate artifact)
    # — BEFORE the suite: tests/test_registry.py's drift gate asserts
    # the newest replay artifact covers exactly the current registry,
    # so certifying a freeze that GREW the registry must refresh the
    # artifact first or stage 2 reports the gate doing its job as a
    # spurious freeze failure (bit round 8: 1 failed / 1092 passed
    # with a 362-entry artifact against a 381-query registry).
    replay_path = os.path.join(_REPO, f"REPLAY_FULL_r{rn:02d}.json")
    try:
        rc, out = _run(
            [sys.executable, "scripts/replay_window.py", "--n", str(n_registry),
             "--json-out", os.path.basename(replay_path)],
            7200,
        )
        with open(replay_path) as fh:
            rep = json.load(fh)
        report["replay"] = {
            "n_green": rep["n_green"], "n_total": rep["n_total"], "exit": rc,
        }
    except Exception as exc:  # crashed subprocess / missing artifact / timeout
        report["replay"] = _stage_error(exc)

    # 2. full suite (sees the fresh replay artifact)
    if args.skip_suite:
        report["suite"] = "SKIPPED BY FLAG"
    else:
        try:
            # FULL suite: override the default fast-tier deselection
            # (pytest.ini -m "not slow") — certification runs everything
            rc, out = _run(
                [sys.executable, "-m", "pytest", "tests/", "-q", "-m", "slow or not slow"],
                5400,
            )
            m = re.search(r"(\d+) passed(?:.*?(\d+) skipped)?", out.replace(",", ""))
            report["suite"] = {
                "passed": int(m.group(1)) if m else None,
                "skipped": int(m.group(2)) if m and m.group(2) else 0,
                "exit": rc,
                "tail": out.strip().splitlines()[-1],
            }
        except Exception as exc:
            report["suite"] = _stage_error(exc)

    # 3. bench at sf0.1
    if args.skip_bench:
        report["bench"] = "SKIPPED BY FLAG"
    else:
        try:
            rc, out = _run([sys.executable, "bench.py"], 3600)
            with open(os.path.join(_REPO, "BENCH_FULL.json")) as fh:
                bf = json.load(fh)
            suspects = {
                q: bf["queries"].get(q)
                for q in ("ktruss_copurchase_edges", "scan_structural_similarity",
                          "ivfpq_residual_search", "gopher_repetition_profile")
            }
            report["bench"] = {
                "total_sec": bf["value"], "n_queries": len(bf["queries"]),
                "sf": bf["sf"], "tide_suspects": suspects, "exit": rc,
            }
        except Exception as exc:
            report["bench"] = _stage_error(exc)

    # 4. environment probes
    report["env"] = {"mysqld": bool(shutil.which("mysqld")), "libpq": _libpq_loads()}

    def _ok_stage(v: object) -> bool:
        return isinstance(v, dict) and not v.get("failed")

    r = report["replay"]
    s = report["suite"]
    ok = (
        _ok_stage(r)
        and r["exit"] == 0
        and r["n_green"] == r["n_total"]
        and (args.skip_suite or (_ok_stage(s) and s["exit"] == 0))
    )
    report["certified"] = bool(ok)

    md = [f"# FREEZE r{rn} — regenerated at HEAD {head}"
          + (" (DIRTY TREE — rerun after committing)" if dirty else "")
          + ("" if ok else " — **FAILED, NOT CERTIFIED**"), ""]
    md.append(f"- registry: **{n_registry}** queries, all with oracles")
    if _ok_stage(s):
        md.append(f"- suite: **{s['passed']} passed + {s['skipped']} skipped**"
                  f" (exit {s['exit']}; `{s['tail']}`)")
    else:
        md.append(f"- suite: {s if isinstance(s, str) else 'STAGE FAILED: ' + str(s.get('error'))}")
    if _ok_stage(r):
        md.append(f"- pristine replay: **{r['n_green']}/{r['n_total']} green**"
                  f" (REPLAY_FULL_r{rn:02d}.json)")
    else:
        md.append(f"- pristine replay: STAGE FAILED: {r.get('error')}")
    b = report["bench"]
    if _ok_stage(b):
        md.append(f"- bench sf0.1: **{b['total_sec']} s over {b['n_queries']}"
                  f" queries** (BENCH_FULL.json)")
        md.append(f"  - tide suspects: {json.dumps(b['tide_suspects'])}")
    else:
        md.append(f"- bench: {b if isinstance(b, str) else 'STAGE FAILED: ' + str(b.get('error'))}")
    env = report["env"]
    md.append("- env blocks: " + ", ".join(
        f"{k}={'available' if env[k] else 'ABSENT'}" for k in ("mysqld", "libpq")))
    md.append("")
    md.append("```json")
    md.append(json.dumps(report, indent=1, sort_keys=True))
    md.append("```")
    with open(os.path.join(_REPO, f"FREEZE_r{rn:02d}.md"), "w") as fh:
        fh.write("\n".join(md) + "\n")
    print("\n".join(md[:12]))

    # The replay subprocess's exit code matters independently of the
    # artifact's counts: a crashed replay over a stale-but-green
    # artifact must NOT certify (the exact hand-drift failure class
    # this script exists to eliminate).
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
