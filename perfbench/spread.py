"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 \
        [--seconds <s>] [--trace 0|1] [--out <file.jsonl>]

Runs ``run.py`` once per seed, one after another, and prints for every
metric its median and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the metric's bound from ``BENCHMARK.json``; untraced runs add the
wall-clock ``wall.*`` figures of the report lines.  With ``--out`` each run's
JSON line is appended to that file as well.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    parser.add_argument("--seconds", type=int)
    parser.add_argument("--trace", type=int, default=0)
    parser.add_argument("--out")
    args = parser.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        start = time.monotonic()
        proc = subprocess.run(
            bench["command"]
            + ["--workload", args.workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(args.trace)],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        wall = time.monotonic() - start
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        context = next((json.loads(l[9:]) for l in lines if l.startswith("context: ")), {})
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(dict(last, seed=seed, wall_s=wall)) + "\n")
        print(
            f"seed {seed}: wall {wall:.1f} s, "
            f"calibration {context.get('calibration_jvm_sum_s')} s, correct {last['correct']}, "
            f"{last['failed']}/{last['attempted']} failed, "
            + ", ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()
                        if k in bounds or args.trace),
            flush=True,
        )
        for name, metric in last["metrics"].items():
            values.setdefault(name, []).append(metric["value"])
        # The wall-clock figures of the report lines, for comparison.
        for line in lines:
            name, eq, rest = line.partition(" = ")
            if eq and name.startswith("wall.") and not args.trace:
                values.setdefault(name, []).append(float(rest.split()[0]))

    print(f"{'metric':<28} {'median':>12} {'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        median = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / median if median else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if spread < bound / 3 else "WIDE")
        print(f"{name:<28} {median:>12.5g} {spread:>8.3f} {bound if bound else '':>6} {flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
