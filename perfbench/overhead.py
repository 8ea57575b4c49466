"""Tracing overhead of the benchmark, per workload.

    python3 perfbench/overhead.py --workload <name> --seed <n> [--seconds <s>]

Runs the same seed untraced and traced and prints, for each end-to-end
metric the traced run also reports (``traced.<metric>``), the traced value
minus the untraced one, absolute and as a share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(command: list[str], trace: int) -> dict:
    proc = subprocess.run(
        command + ["--trace", str(trace)], cwd=ROOT, capture_output=True, text=True
    )
    if proc.returncode != 0:
        sys.exit(f"trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int)
    args = parser.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    command = bench["command"] + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(seconds)
    ]
    plain = run(command, 0)
    traced = run(command, 1)
    print(f"{args.workload} seed {args.seed}: traced minus untraced")
    for name, metric in plain.items():
        other = traced.get(f"traced.{name}")
        if other is None:
            continue
        diff = other["value"] - metric["value"]
        print(
            f"  {name:<16} {metric['value']:>10.4g} -> {other['value']:>10.4g} "
            f"{metric['unit']:<4} ({diff:+.4g}, {diff / metric['value']:+.1%})"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
