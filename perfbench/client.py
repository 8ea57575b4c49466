"""One benchmark session: a fresh process that sets up the engine, then
sends the ops its spec lists one at a time (a closed loop with one client).

Run by ``run.py`` as ``python3 perfbench/client.py <spec.json>``.  The spec
names the workload, the inputs and the ops, and whether to trace.  The
session writes its records (set-up time stamp, one record per op with the
engine's answer, and the trace when on) to the pickle the spec names.
Answers are collected for checking outside the timed spans.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time

clock = time.monotonic


TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU seconds the session has used so far: this process and its
    descendants (the JVM and any Python workers), including children they
    already waited for (the JVM's launcher), less the JVM's JIT compiler
    threads.

    Each process is read from its POSIX CPU clock, which on a guest with
    steal accounting leaves out the time the host ran something else, so
    other work competing for the cores does not inflate it the way it
    inflates wall time (see README.md, "Steadiness").
    JIT compilation is left out because how much of it falls into a given
    interval depends on when the JVM's compile queue drains, not on the
    work sent: it was half of a session's CPU and most of its spread.
    The run starts the JVM with a fixed set of compiler threads, so none
    exits and takes its time out of reach."""

    def __init__(self) -> None:
        self.jit: list[str] = []

    def __call__(self) -> float:
        total, pids = 0.0, _tree(os.getpid())
        for pid in pids:
            try:
                total += time.clock_gettime(((~pid) << 3) | 2)
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                # cutime and cstime: children that exited and were waited for.
                total += (int(fields[13]) + int(fields[14])) / TICK
            except OSError:
                continue
        if not self.jit:
            self.jit = [
                f"/proc/{pid}/task/{tid}/schedstat"
                for pid in pids
                for tid in _listdir(f"/proc/{pid}/task")
                if _read(f"/proc/{pid}/task/{tid}/comm").startswith(JIT_THREADS)
            ]
        for path in self.jit:
            total -= int(_read(path).split()[0] or 0) / 1e9
        return total


def _tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        for tid in _listdir(f"/proc/{pid}/task"):
            todo.extend(int(c) for c in _read(f"/proc/{pid}/task/{tid}/children").split())
    return pids


def _listdir(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, spec["root"])
    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    if spec["workload"] == "repl_csv":
        record = run_repl(spec, tracer)
    else:
        record = run_catalog_ingest(spec, tracer)
    if tracer is not None:
        record["trace"] = tracer.finish()
    with open(spec["out"], "wb") as fh:
        pickle.dump(record, fh)
    return 0


# -- repl_csv -------------------------------------------------------------------


class _Output:
    """``output_stream`` for ``repl.run``: collects what the REPL prints."""

    def __init__(self) -> None:
        self.parts: list[str] = []

    def write(self, text: str) -> int:
        self.parts.append(text)
        return len(text)

    def flush(self) -> None:
        pass

    def take(self) -> str:
        text = "".join(self.parts)
        self.parts.clear()
        return text


class _Lines:
    """``input_stream`` for ``repl.run``.

    The REPL asks for its next line only after it printed the previous
    answer, so the time between two requests is one line's latency.  The
    first request marks the end of set-up."""

    def __init__(self, lines: list[dict], output: _Output, tracer) -> None:
        self.lines = lines
        self.output = output
        self.tracer = tracer
        self.ready_t: float | None = None
        self.ready_cpu: float | None = None
        self.cpu = CpuMeter()
        self.ops: list[dict] = []
        self.current: dict | None = None
        self.sc = None

    def __iter__(self):
        return self

    def __next__(self) -> str:
        now = clock()
        cpu = self.cpu()
        if self.current is not None:
            self.current["end"] = now
            self.current["cpu_end"] = cpu
            self.current["output"] = self.output.take()
            if self.tracer is not None:
                self.tracer.end_op(self.current["id"], now)
            self.ops.append(self.current)
            self.current = None
        else:
            self.ready_t = now
            self.ready_cpu = cpu
            self.output.take()  # the prompt
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            self.sc = spark.sparkContext
            if self.tracer is not None:
                self.tracer.attach(spark)
        i = len(self.ops)
        if i >= len(self.lines):
            raise StopIteration
        entry = self.lines[i]
        op_id = f"op{i}"
        self.sc.setJobGroup(op_id, entry["kind"])
        if self.tracer is not None:
            self.tracer.begin_op(op_id, entry["kind"])
        self.current = dict(entry, id=op_id, cpu_start=self.cpu(), start=clock())
        return entry["line"] + "\n"


def run_repl(spec: dict, tracer) -> dict:
    from simple_query_engine_spark import repl

    output = _Output()
    lines = _Lines(spec["lines"], output, tracer)
    repl.run(spec["csv"], input_stream=lines, output_stream=output)
    context = {}
    if spec["context"]:
        from pyspark.sql import SparkSession

        lines.sc.setJobGroup("teardown", "teardown")
        context = _context(SparkSession.getActiveSession())
    _stop_spark(tracer)
    return {"ready_t": lines.ready_t, "ready_cpu": lines.ready_cpu, "ops": lines.ops, "context": context}


# -- catalog_ingest ---------------------------------------------------------------


def run_catalog_ingest(spec: dict, tracer) -> dict:
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators import all_queries
    from simple_query_engine_spark.session import configure, get_spark
    from simple_query_engine_spark.sources.catalog import load_tables
    from simple_query_engine_spark.sources.managed import ManagedTable

    if tracer is not None:
        # install() wraps load_tables; get_spark is imported here directly.
        get_spark = tracer.wrap("session.get_spark", get_spark)
    spark = get_spark(app_name="perfbench-catalog-ingest")
    configure(spark)
    sc = spark.sparkContext
    queries = all_queries()
    if tracer is not None:
        queries = {name: tracer.wrap_build(fn) for name, fn in queries.items()}
    sf_dir = spec["sf_dir"]
    load_tables(spark, sf_dir)
    table_root = spec["table_root"]
    table = None
    cpu = CpuMeter()
    ready_t, ready_cpu = clock(), cpu()
    if tracer is not None:
        tracer.attach(spark)

    def dml(op: dict) -> int:
        kind = op["kind"]
        if kind == "insert":
            return table.insert(spark.read.parquet(op["path"]))
        if kind == "update":
            return table.update(
                (F.col("o_orderkey") % op["mod"]) == op["rem"],
                {"o_totalprice": F.col("o_totalprice") + F.lit(op["delta"])},
            )
        if kind == "delete":
            return table.delete_where(F.col("o_orderkey").between(op["lo"], op["hi"]))
        return table.merge(
            spark.read.parquet(op["path"]),
            on="o_orderkey",
            update_assignments={
                "o_totalprice": F.col("s.o_totalprice"),
                "o_orderstatus": F.col("s.o_orderstatus"),
            },
        )

    ops: list[dict] = []

    def run_op(op: dict) -> None:
        nonlocal table
        op_id = f"op{len(ops)}"
        rec = dict(op, id=op_id)
        sc.setJobGroup(op_id, op.get("name") or op["op"])
        if tracer is not None:
            tracer.begin_op(op_id, op.get("name") or op["op"])
        before = _tree_files(table_root)
        result = rows = None
        rec["cpu_start"] = cpu()
        rec["start"] = clock()
        try:
            if op["op"] == "catalog":
                # Build, then execute by collecting: the answer is fetched
                # once, inside the op, instead of a second execution for
                # the check.
                result = queries[op["name"]](spark, sf_dir)
                rows = result.collect()
            elif op["op"] == "create":
                orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
                table = ManagedTable.create(spark, table_root, orders)
                rec["version"] = table.current_version()
            elif op["op"] == "dml":
                rec["version"] = dml(op)
            elif op["op"] == "compact":
                rec["version"] = table.compact()
            elif op["op"] == "read":
                rec["version"] = max(0, table.current_version() - op["back"])
                result = table.read(rec["version"])
                result.write.mode("overwrite").format("noop").save()
            else:
                table.vacuum(retain_versions=2)
        except Exception as error:  # a failed op is counted, not fatal
            rec["error"] = f"{type(error).__name__}: {str(error).strip()[:500]}"
            result = rows = None
        rec["end"] = clock()
        rec["cpu_end"] = cpu()
        if tracer is not None:
            tracer.end_op(op_id, rec["end"])
        after = _tree_files(table_root)
        rec["new_bytes"] = sum(size for path, size in after.items() if path not in before)
        rec["disk_bytes"] = sum(after.values())
        if result is not None:
            # Checked later, outside the timed span.
            rec["columns"] = list(result.columns)
            rec["rows"] = [_plain(row) for row in (rows if rows is not None else result.collect())]
        rec["check_s"] = clock() - rec["end"]
        ops.append(rec)

    for round_ops in spec["rounds"]:
        for op in round_ops:
            run_op(op)
    if spec["vacuum"]:
        run_op({"op": "vacuum"})
    sc.setJobGroup("teardown", "teardown")
    context = _context(spark) if spec["context"] else {}
    _stop_spark(tracer)
    return {"ready_t": ready_t, "ready_cpu": ready_cpu, "ops": ops, "context": context}


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                out[path] = os.path.getsize(path)
            except OSError:
                pass
    return out


def _plain(value):
    """Rows, structs and maps as plain tuples / dicts, so they pickle
    without pyspark and compare with DuckDB's values."""
    from pyspark.sql import Row

    if isinstance(value, Row):
        return tuple(_plain(v) for v in value)
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    return value


def _context(spark) -> dict:
    """Run context, not a metric: parallelism, master, heap, and the
    warm time of a fixed JVM-side sum over 500M longs as a host-speed
    probe (the same probe as the repository's bench.py)."""
    sc = spark.sparkContext

    def probe():
        spark.range(500_000_000, numPartitions=32).selectExpr("sum(id * 2)").collect()

    probe()  # code generation, not billed
    start = clock()
    probe()
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_heap": sc.getConf().get("spark.driver.memory", "default"),
        "calibration_jvm_sum_s": round(clock() - start, 4),
    }


def _stop_spark(tracer) -> None:
    """Stop the session only when tracing: the event log is complete once
    the application ends.  Untraced sessions exit and let the JVM go."""
    if tracer is None:
        return
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
