"""Benchmark entry point for simple_query_engine_spark.

    python3 perfbench/run.py --workload <repl_csv|catalog_ingest> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout.  It generates every input from ``--seed``,
starts ``SESSIONS`` fresh engine processes one after another (one
closed-loop client each, on ``local[<cpus>]``), checks every answer with
DuckDB after the sessions end, and prints the metrics.  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Lines before it give the run
context, the tail percentile with its sample count, and the metrics that
are not in the JSON (``error_ratio`` and the ingest-only ones).

Everything the run writes stays under ``.perfbench/`` in the checkout;
the span file of a traced run is kept in ``.perfbench/spans/``.  See
``perfbench/README.md`` for the workloads, the metrics and what each
per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "simple_query_engine_spark"
WORKLOADS = ("repl_csv", "catalog_ingest")

SESSIONS = 2  # fresh processes per run: set-up is measured this many times
RUN_LIMIT_S = 170.0  # a run that would exceed this is abandoned
DRIVER_HEAP = "1g"
CSV_ROWS = 40_000
# REPL lines sent per second of --seconds, about the answer rate of the
# 4-core host.  A fixed count, not a time limit, so a slow phase of the
# host does not shrink the sample or change which lines it holds.  At
# 10 s a session sends 17 lines: the fixed first line and two whole
# blocks of line kinds (datagen.repl_lines).
LINES_PER_S = 3.4
CATALOG_LINEITEMS = 24_000

clock = time.monotonic


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    started = clock()
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        bench = Run(args, work, started)
        result = bench.execute()
    except RunFailed as error:
        print(f"error: {error}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in result["report"]:
        print(line)
    print(json.dumps(result["json"]))
    return 0


class RunFailed(RuntimeError):
    pass


class Run:
    def __init__(self, args, work: str, started: float) -> None:
        self.args = args
        self.work = work
        self.deadline = started + RUN_LIMIT_S
        self.cpus = len(os.sched_getaffinity(0))

    # -- inputs -----------------------------------------------------------------

    def make_inputs(self) -> list[dict]:
        """One spec per session."""
        import numpy as np

        import datagen

        seed = self.args.seed
        specs = []
        if self.args.workload == "repl_csv":
            self.csv = os.path.join(self.work, "input.csv")
            records = datagen.write_csv(self.csv, seed, CSV_ROWS)
            lines = max(1, round(LINES_PER_S * self.args.seconds / SESSIONS))
            for i in range(SESSIONS):
                rng = np.random.default_rng([seed, 3, i])
                # SQL shapes continue across sessions, so a run holds all three.
                script = datagen.repl_lines(rng, records, lines, first_shape=i)
                specs.append({"csv": self.csv, "lines": script})
        else:
            self.sf_dir = os.path.join(self.work, "catalog")
            tables = datagen.write_catalog(self.sf_dir, seed, CATALOG_LINEITEMS)
            rng = np.random.default_rng([seed, 4])
            rounds = datagen.catalog_ingest_rounds(
                rng, tables["orders"], os.path.join(self.work, "batches")
            )
            flagship = {"op": "catalog", "name": datagen.FLAGSHIP}
            for i in range(SESSIONS):
                main_session = i == SESSIONS - 1
                specs.append(
                    {
                        "sf_dir": self.sf_dir,
                        "table_root": os.path.join(self.work, f"s{i}", "orders_managed"),
                        # Earlier sessions only measure set-up; the last one
                        # answers the flagship query first, then runs the rounds.
                        "rounds": [[flagship] + rounds[0]] + rounds[1:] if main_session else [],
                        "vacuum": main_session,
                    }
                )
        return specs

    # -- sessions ---------------------------------------------------------------

    def run_session(self, i: int, spec: dict) -> dict:
        session_dir = os.path.join(self.work, f"s{i}")
        tmp = os.path.join(session_dir, "tmp")
        events = os.path.join(session_dir, "eventlog")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(events, exist_ok=True)
        spec = dict(
            spec,
            workload=self.args.workload,
            root=ROOT,
            trace=bool(self.args.trace),
            out=os.path.join(session_dir, "record.pkl"),
            context=i == SESSIONS - 1,
        )
        spec_path = os.path.join(session_dir, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        # A fixed set of JIT compiler threads, whose CPU the client leaves
        # out of its figures (client.CpuMeter).
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
        submit = [f"--conf spark.driver.extraJavaOptions='{java_opts}'"]
        if self.args.trace:
            submit += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{events}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        env = dict(
            os.environ,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
            PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
            PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(
                os.pathsep
            ),
        )
        env.pop("SQE_CC_SCRATCH_DIR", None)
        log_path = os.path.join(session_dir, "client.log")
        with open(log_path, "w") as log:
            spawn_t = clock()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "client.py"), spec_path],
                cwd=session_dir,
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=max(1.0, self.deadline - clock()))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                sampler.stop()
                _stop_group(proc)
        if code != 0:
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            what = "timed out" if code is None else f"exited with {code}"
            raise RunFailed(f"session {i} {what}; log tail:\n{tail}")
        with open(spec["out"], "rb") as fh:
            record = pickle.load(fh)
        record["spawn_t"] = spawn_t
        record["peak_rss"] = sampler.peak
        record["eventlog"] = events
        return record

    # -- checks and metrics -----------------------------------------------------

    def execute(self) -> dict:
        return self.summarize(self.run_all())

    def run_all(self) -> list[dict]:
        specs = self.make_inputs()
        return [self.run_session(i, spec) for i, spec in enumerate(specs)]

    def summarize(self, sessions: list[dict]) -> dict:
        """Check every answer, then compute the metrics and the report."""
        failures = self.check(sessions)
        ops = [op for s in sessions for op in s["ops"]]
        failed = sum(1 for op in ops if op.get("failure"))
        e2e = self.end_to_end(sessions)
        report = [f"context: {json.dumps(self.context(sessions))}"]
        report += [f"failed op: {reason}" for reason in failures[:10]]
        report += [f"{name} = {value:.6g} {unit}" for name, (value, unit) in e2e.items()]
        if self.args.trace:
            layers = self.per_layer(sessions, e2e)
            metrics = {name: {"value": v, "unit": u} for name, (v, u) in layers.items()}
        else:
            metrics = {
                name: {"value": v, "unit": u}
                for name, (v, u) in e2e.items()
                if name in END_TO_END
            }
        return {
            "e2e": e2e,
            "report": report,
            "json": {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": metrics,
            },
        }

    def check(self, sessions: list[dict]) -> list[str]:
        import check

        reasons = []

        def record(op: dict, reason: str | None) -> None:
            if reason:
                op["failure"] = reason
                reasons.append(f"{op['id']} {op.get('name') or op.get('line') or op['op']}: {reason}")

        if self.args.workload == "repl_csv":
            import datagen

            kinds = dict(datagen.CSV_COLUMNS)
            con = check.repl_connection(self.csv, datagen.CSV_COLUMNS)
            for s in sessions:
                for op in s["ops"]:
                    record(op, check.check_repl(con, op, kinds))
            return reasons

        from simple_query_engine_spark.operators import all_oracles
        from simple_query_engine_spark.sources.catalog import TABLE_NAMES

        oracle = check.CatalogOracle(check.catalog_connection(self.sf_dir, TABLE_NAMES), all_oracles())
        for s in sessions:
            s["orders_path"] = os.path.join(self.sf_dir, "orders.parquet")
            replay = check.ManagedReplay(s["orders_path"])
            for op in s["ops"]:
                if op.get("error"):
                    record(op, op["error"])
                elif op["op"] == "catalog":
                    record(op, oracle.check(op))
                elif op["op"] in ("dml", "compact", "create"):
                    replay.apply(op)
                elif op["op"] == "read":
                    record(op, replay.check(op))
            s["live_bytes"] = _plain_parquet_bytes(replay.live_rows(), self.work)
        return reasons

    def end_to_end(self, sessions: list[dict]) -> dict[str, tuple[float, str]]:
        """The JSON's end-to-end metrics are CPU seconds of the engine's
        process tree (``client.CpuMeter``), which other processes competing
        for the cores do not inflate; the wall-clock figures follow as
        ``wall.*``."""
        first, first_wall = [], []
        for s in sessions:
            good = [op for op in s["ops"] if not op.get("failure")]
            if good:
                first.append(good[0]["cpu_end"])
                first_wall.append(good[0]["end"] - s["spawn_t"])
        ops = [op for s in sessions for op in s["ops"]]
        if not first:
            raise RunFailed("no op was answered correctly")
        cpu = sorted(op["cpu_end"] - op["cpu_start"] for op in ops)
        lat = sorted(op["end"] - op["start"] for op in ops)
        wall = sum(s["ops"][-1]["end"] - s["ready_t"] - _check_gaps(s) for s in sessions if s["ops"])
        failed = sum(1 for op in ops if op.get("failure"))
        tail, pct = tail_percentile(cpu)
        wall_tail, _ = tail_percentile(lat)
        out = {
            "setup_s": (statistics.median(s["ready_cpu"] for s in sessions), "s"),
            "first_answer_cpu_s": (statistics.median(first), "s"),
            "op_cpu_p50_s": (statistics.median(cpu), "s"),
            "op_cpu_tail_s": (tail, "s"),
            "op_tail_percentile": (pct, "%"),
            "op_samples": (len(cpu), "count"),
            "ops_per_cpu_s": (len(ops) / sum(cpu), "1/s"),
            "error_ratio": (failed / len(ops), "ratio"),
            "peak_rss_mb": (max(s["peak_rss"] for s in sessions) / 2**20, "MB"),
            "wall.setup_s": (statistics.median(s["ready_t"] - s["spawn_t"] for s in sessions), "s"),
            "wall.first_answer_s": (statistics.median(first_wall), "s"),
            "wall.op_p50_s": (statistics.median(lat), "s"),
            "wall.op_tail_s": (wall_tail, "s"),
            "wall.ops_per_s": (len(ops) / wall, "1/s"),
        }
        if self.args.workload == "catalog_ingest":
            out.update(ingest_metrics(sessions[-1]))
        return out

    def context(self, sessions: list[dict]) -> dict:
        return dict(
            sessions[-1].get("context", {}),
            workload=self.args.workload,
            seed=self.args.seed,
            sessions=len(sessions),
            cpus=self.cpus,
        )

    def per_layer(self, sessions, e2e) -> dict[str, tuple[float, str]]:
        from tracing import layer_metrics

        metrics, spans = layer_metrics(sessions, e2e)
        out_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "sessions": spans}, fh)
        return metrics


# The JSON's end-to-end metrics.  error_ratio, peak_rss_mb, the wall-clock
# figures and the ingest metrics are printed on the report lines, and all
# but error_ratio are per-layer metrics of a traced run (see README.md).
END_TO_END = ("setup_s", "first_answer_cpu_s", "op_cpu_p50_s", "op_cpu_tail_s", "ops_per_cpu_s")


def tail_percentile(sorted_latencies: list[float]) -> tuple[float, float]:
    """The highest percentile that still has at least ten samples above
    it, and which percentile that is.  With ten samples or fewer, the
    maximum (percentile 100)."""
    n = len(sorted_latencies)
    if n <= 10:
        return sorted_latencies[-1], 100.0
    return sorted_latencies[n - 11], 100.0 * (n - 10) / n


def _check_gaps(session: dict) -> float:
    """Time the client spent between ops collecting answers for the
    checks; it is not part of the timed phase."""
    return sum(op.get("check_s", 0.0) for op in session["ops"][:-1])


def ingest_metrics(session: dict) -> dict[str, tuple[float, str]]:
    ops = session["ops"]
    writes = [
        op["end"] - op["start"] for op in ops if op["op"] in ("create", "dml", "compact", "vacuum")
    ]
    reads = [op["end"] - op["start"] for op in ops if op["op"] == "read"]
    user_bytes = os.path.getsize(session["orders_path"]) + sum(
        os.path.getsize(op["path"]) for op in ops if op["op"] == "dml" and "path" in op
    )
    written = sum(op["new_bytes"] for op in ops)
    vacuum = [op for op in ops if op["op"] == "vacuum"]
    out = {
        "write_p50_s": (statistics.median(writes) if writes else float("nan"), "s"),
        "read_p50_s": (statistics.median(reads) if reads else float("nan"), "s"),
        "write_amp": (written / user_bytes, "ratio"),
    }
    if vacuum and session.get("live_bytes"):
        out["space_amp"] = (vacuum[-1]["disk_bytes"] / session["live_bytes"], "ratio")
    return out


def _plain_parquet_bytes(arrow_table, work: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(work, "live_snapshot.parquet")
    pq.write_table(arrow_table, path, compression="snappy")
    return os.path.getsize(path)


class RssSampler(threading.Thread):
    """Peak resident set size of a process tree (the client, its JVM and
    any Python workers), sampled from /proc every 100 ms."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def _tree_rss(self) -> int:
        total, todo, seen = 0, [self.pid], set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except (OSError, ValueError):
                continue
        return total


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a session's process group (the JVM outlives
    its Python parent for a moment) and wait until every member is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    limit = clock() + 20
    while _group_alive(proc.pid) and clock() < limit:
        time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group; zombies are
        # reaped by their parent and hold no resources.
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


if __name__ == "__main__":
    raise SystemExit(main())
