"""Smoke self-test of the benchmark at the smallest scale.

    python3 perfbench/selftest.py

For each workload it runs a tiny untraced and a tiny traced run (a small
CSV and catalog, a few ops) and checks that

- every metric named in ``BENCHMARK.json`` is printed with its unit, and
- a deliberately corrupted answer is counted as a failed op and shows in
  ``error_ratio``.

Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402


def shrink() -> None:
    run.CSV_ROWS = 2_000
    run.CATALOG_LINEITEMS = 6_000
    datagen.CATALOG_MEMBERS = ["parity_project_filter_combo", "dedup_exact"]
    datagen.DML_ROUNDS = [["insert", "merge_narrow", "delete"]]


def corrupt(sessions: list[dict]) -> str:
    """Change one checked answer; returns which op was changed."""
    for session in sessions:
        for op in session["ops"]:
            if op.get("kind") in ("eq", "gt", "project", "sql") and "Error" not in op["output"]:
                op["output"] = op["output"].rstrip("\n") + "\n-1,corrupted\n"
                return op["id"]
            if op.get("rows"):
                op["rows"] = op["rows"][1:]
                return op["id"]
    raise AssertionError("no checkable answer to corrupt")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--seed", type=int, default=1)
    args = parser.parse_args()
    shrink()
    sys.path.insert(0, run.ROOT)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            options = argparse.Namespace(workload=workload, seed=args.seed, seconds=2, trace=trace)
            work = os.path.join(run.ROOT, ".perfbench", "work", f"selftest-{workload}-{trace}")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            try:
                bench_run = run.Run(options, work, time.monotonic())
                sessions = bench_run.run_all()
                clean = bench_run.summarize(copy.deepcopy(sessions))
                expected = bench["per_layer"] if trace else bench["end_to_end"]
                printed = clean["json"]["metrics"]
                for metric in expected:
                    got = printed.get(metric["name"])
                    if got is None or got["unit"] != metric["unit"]:
                        problems.append(f"{workload} trace={trace}: {metric['name']} {got}")
                print(f"{workload} trace={trace}: {clean['json']['attempted']} ops, "
                      f"{clean['json']['failed']} failed, {len(printed)} metrics")
                if clean["json"]["failed"]:
                    problems.append(f"{workload} trace={trace}: clean run has failures")
                if trace == 0:
                    broken = copy.deepcopy(sessions)
                    op_id = corrupt(broken)
                    result = bench_run.summarize(broken)
                    ratio = result["e2e"]["error_ratio"][0]
                    print(f"  corrupted {op_id}: {result['json']['failed']} failed, "
                          f"error_ratio {ratio:.3g}")
                    if result["json"]["failed"] != clean["json"]["failed"] + 1 or ratio <= 0:
                        problems.append(f"{workload}: corrupted answer not counted")
            finally:
                shutil.rmtree(work, ignore_errors=True)
    for problem in problems:
        print("FAIL", problem)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
