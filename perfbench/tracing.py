"""Traced runs: spans and counters around the engine's public calls.

The tracer wraps the package's public functions from the outside — no
engine file changes — and keeps every span (name, start, end, parent, op
id) in memory until the session ends.  ``install`` must run before
``simple_query_engine_spark.operators`` is imported, because operator
modules bind ``session_cache`` and ``table`` with ``from ... import``.

Spark-side numbers come from two places: the per-op job group set by the
client (``setJobGroup``) read back from an uncompressed event log, and a
``StreamingQueryListener`` for micro-batch durations.  Catalyst phase times
come from ``queryExecution().tracker().phases()`` of the plans an op ran
(see ``Tracer.end_op``).
"""

from __future__ import annotations

import functools
import json
import os
import time

clock = time.monotonic


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id: str | None = None
        self.counters: dict[str, float] = {}
        self.catalyst: list[dict] = []
        self.progress: list[dict] = []
        self.frames: list = []  # DataFrames whose plans the open op ran
        self.csv_start: float | None = None

    # -- spans -----------------------------------------------------------------

    def _open(self, name: str) -> dict:
        span = {
            "name": name,
            "start": clock(),
            "end": None,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "op": self.op_id,
            "id": len(self.spans),
        }
        self.spans.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: dict, end: float | None = None) -> None:
        span["end"] = clock() if end is None else end
        while self.stack and self.stack[-1] is not span:
            self.stack.pop()  # a child that raised past its wrapper
        if self.stack:
            self.stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def wrap(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
            except Exception:
                tracer.count(f"{name}.errors")
                raise
            finally:
                tracer._close(span)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def begin_op(self, op_id: str, label: str) -> None:
        self.op_id = op_id
        self.stack.clear()
        self._open(f"op:{label}")

    def end_op(self, op_id: str, end: float) -> None:
        if self.stack:
            self._close(self.stack[0], end)
        self.op_id = None
        frames, self.frames = self.frames, []
        if frames:
            self._catalyst_phases(op_id, frames)

    def _catalyst_phases(self, op_id: str, frames: list) -> None:
        """Catalyst phase times, summed over the plans the op ran: every
        DataFrame collected during the op (optimization and planning ran
        for its collect) and the REPL's dispatch result (its analysis ran
        when the line was dispatched; the REPL collects a ``limit`` of it).
        The trackers are only read, so no phase runs again.  Plans executed
        through a ``DataFrameWriter`` (managed-table writes, snapshot reads)
        build their command plan inside the JVM and are not seen."""
        row = {"op": op_id}
        try:
            for df in {id(df): df for df in frames}.values():
                it = df._jdf.queryExecution().tracker().phases().iterator()
                while it.hasNext():
                    pair = it.next()
                    row[pair._1()] = row.get(pair._1(), 0) + pair._2().durationMs()
        except Exception as error:  # tracing must not fail the op
            self.count("catalyst.read_errors")
            row["error"] = repr(error)[:200]
        self.catalyst.append(row)

    # -- installation ----------------------------------------------------------

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        collect = DataFrame.collect
        tracer = self

        @functools.wraps(collect)
        def traced_collect(df):
            if tracer.op_id is not None:
                tracer.frames.append(df)
            return collect(df)

        DataFrame.collect = traced_collect

        from simple_query_engine_spark.functions import caching
        from simple_query_engine_spark.sources import catalog

        caching.session_cache = self._cache_wrapper(
            caching.session_cache, caching._TRACKED, "session_cache", lambda e: e[1]
        )
        caching.session_materialize = self._cache_wrapper(
            caching.session_materialize, caching._MATERIALIZED, "materialize", lambda e: e[3]
        )
        catalog.load_tables = self.wrap(
            "sources.load_tables", catalog.load_tables, lambda _: self.count("sources.load_tables_calls")
        )
        catalog.table = self.wrap(
            "sources.load_tables", catalog.table, lambda _: self.count("sources.load_tables_calls")
        )

        from simple_query_engine_spark import repl

        repl.get_spark = self.wrap("session.get_spark", repl.get_spark)
        repl.read_csv = self._csv_wrapper(repl.read_csv)
        repl.parse = self.wrap("minilang.parse", repl.parse)
        repl.execute = self.wrap("executor.execute", repl.execute)
        repl.dispatch = self.wrap("repl.dispatch", repl.dispatch, self._remember_df)
        repl.format_result = self.wrap(
            "repl.format_result", repl.format_result, self._count_rendered
        )
        self._install_managed()

    def _remember_df(self, df) -> None:
        self.frames.append(df)

    def _count_rendered(self, text: str) -> None:
        lines = text.split("\n")
        truncated = lines[-1].startswith("... (first ")
        self.count("repl.rows_rendered", len(lines) - 2 - int(truncated))
        self.count("repl.truncated", int(truncated))

    def _csv_wrapper(self, read_csv):
        """``sources.csv_load_s`` spans the CSV read with type inference
        and the REPL's cache count: it opens at ``read_csv`` and closes
        when the REPL asks for its first line (``attach``)."""
        tracer = self

        @functools.wraps(read_csv)
        def traced(*args, **kwargs):
            tracer.csv_start = clock()
            return read_csv(*args, **kwargs)

        return traced

    def _cache_wrapper(self, fn, registry: dict, name: str, handle_of):
        tracer = self

        @functools.wraps(fn)
        def traced(df, sf_dir, key):
            prior = registry.get(key)
            span = tracer._open(f"caching.{name}")
            try:
                result = fn(df, sf_dir, key)
            finally:
                tracer._close(span)
            hit = prior is not None and result is handle_of(prior)
            tracer.count(f"caching.{name}_calls")
            tracer.count(f"caching.{name}_hits", int(hit))
            if name == "materialize" and not hit:
                tracer.count("caching.materialize_s", span["end"] - span["start"])
            return result

        return traced

    def _install_managed(self) -> None:
        from simple_query_engine_spark.sources import managed

        cls = managed.ManagedTable
        tracer = self
        depth = {"n": 0}

        def wrap_method(method_name: str, kind: str):
            method = getattr(cls, method_name)

            @functools.wraps(method)
            def traced(table, *args, **kwargs):
                if depth["n"]:
                    return method(table, *args, **kwargs)
                depth["n"] += 1
                before = _manifest_files(table)
                span = tracer._open(f"managed.{kind}")
                try:
                    return method(table, *args, **kwargs)
                except managed.TableVersionConflict:
                    tracer.count("managed.conflicts")
                    raise
                finally:
                    tracer._close(span)
                    depth["n"] -= 1
                    if kind == "write":
                        tracer.count("managed.write_s", span["end"] - span["start"])
                        after = _manifest_files(table)
                        tracer.count(
                            "managed.commits", max(after, default=-1) - max(before, default=-1)
                        )
                        old = set().union(*before.values()) if before else set()
                        new = set().union(*after.values()) if after else set()
                        latest_old = before[max(before)] if before else set()
                        latest_new = after[max(after)] if after else set()
                        added = new - old
                        tracer.count("managed.files_added", len(added))
                        tracer.count("managed.files_removed", len(latest_old - latest_new))
                        tracer.count("managed.bytes_written", sum(_size(f) for f in added))

            setattr(cls, method_name, traced)

        for method_name in ("insert", "update", "delete_where", "merge", "compact", "vacuum"):
            wrap_method(method_name, "write")
        wrap_method("read", "read")

    # -- session hooks ---------------------------------------------------------

    def attach(self, spark) -> None:
        """Called once set-up is done: closes the CSV-load span and starts
        listening for streaming progress."""
        if self.csv_start is not None:
            self.count("sources.csv_load_s", clock() - self.csv_start)
        from pyspark.sql.streaming.listener import StreamingQueryListener

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"batch": p.batchId, "durationMs": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def wrap_build(self, fn):
        """``operators.build``: time inside the catalog function and the
        number of Spark jobs the op launched before it returned."""
        tracer = self

        @functools.wraps(fn)
        def traced(spark, sf_dir):
            span = tracer._open("operators.build")
            try:
                return fn(spark, sf_dir)
            finally:
                tracer._close(span)
                jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(tracer.op_id)
                tracer.count("operators.build_jobs", len(jobs))

        return traced

    def finish(self) -> dict:
        return {
            "spans": self.spans,
            "counters": self.counters,
            "catalyst": self.catalyst,
            "streaming": self.progress,
        }


def _manifest_files(table) -> dict[int, set]:
    """Data files per retained version, read from the table's manifests."""
    out = {}
    mdir = os.path.join(table.path, "_manifests")
    try:
        names = os.listdir(mdir)
    except OSError:
        return out
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            try:
                with open(os.path.join(mdir, name)) as fh:
                    out[int(name[1:-5])] = set(json.load(fh)["files"])
            except (OSError, ValueError, KeyError):
                pass
    return out


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


# -- reading a trace back (parent side) ------------------------------------------


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of each span name's self time: its duration minus the part
    covered by its children (children nest and never overlap)."""
    child_time: dict[int, float] = {}
    for span in spans:
        if span["parent"] is not None and span["end"] is not None:
            child_time[span["parent"]] = child_time.get(span["parent"], 0.0) + (
                span["end"] - span["start"]
            )
    out: dict[str, float] = {}
    for span in spans:
        if span["end"] is None:
            continue
        own = span["end"] - span["start"] - child_time.get(span["id"], 0.0)
        out[span["name"]] = out.get(span["name"], 0.0) + max(0.0, own)
    return out


def parse_event_log(directory: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run time, shuffle and
    spill bytes, and the wall time covered by the group's jobs."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list] = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    job = event["Job ID"]
                    job_group[job] = group
                    job_start[job] = event["Submission Time"]
                    g = groups.setdefault(group, _empty_group())
                    g["jobs"] += 1
                    for stage in event.get("Stage IDs", []):
                        stage_group[stage] = group
                elif kind == "SparkListenerJobEnd":
                    job = event["Job ID"]
                    if job in job_start:
                        intervals.setdefault(job_group[job], []).append(
                            (job_start[job], event["Completion Time"])
                        )
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(event["Stage Info"]["Stage ID"], "-")
                    groups.setdefault(group, _empty_group())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(event["Stage ID"], "-")
                    g = groups.setdefault(group, _empty_group())
                    g["tasks"] += 1
                    m = event.get("Task Metrics") or {}
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for group, spans in intervals.items():
        groups.setdefault(group, _empty_group())["exec_ms"] = _union_ms(spans)
    return groups


def _empty_group() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "exec_ms": 0,
    }


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# -- per-layer metrics --------------------------------------------------------------

# Span names whose self time is reported, summed over every op of the run.
SELF_TIME_METRICS = {
    "sources.load_tables": "sources.load_tables_s",
    "minilang.parse": "minilang.parse_s",
    "executor.execute": "executor.execute_s",
    "repl.dispatch": "repl.dispatch_s",
    "repl.format_result": "repl.format_result_s",
    "operators.build": "operators.build_s",
}
COUNT_METRICS = {
    "sources.load_tables_calls": "count",
    "repl.rows_rendered": "count",
    "repl.truncated": "count",
    "operators.build_jobs": "count",
    "caching.session_cache_calls": "count",
    "caching.session_cache_hits": "count",
    "caching.materialize_calls": "count",
    "caching.materialize_hits": "count",
    "caching.materialize_s": "s",
    "managed.write_s": "s",
    "managed.commits": "count",
    "managed.conflicts": "count",
    "managed.files_added": "count",
    "managed.files_removed": "count",
    "managed.bytes_written": "bytes",
}
SPARK_METRICS = {
    "spark.jobs": ("jobs", 1, "count"),
    "spark.stages": ("stages", 1, "count"),
    "spark.tasks": ("tasks", 1, "count"),
    "spark.exec_s": ("exec_ms", 1e-3, "s"),
    "spark.executor_run_s": ("executor_run_ms", 1e-3, "s"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", 1, "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1, "bytes"),
    "spark.spill_bytes": ("spill_bytes", 1, "bytes"),
}
CATALYST_PHASES = ("analysis", "optimization", "planning")
STREAMING_PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.trigger_ms": "triggerExecution",
}
INGEST_METRICS = ("write_p50_s", "read_p50_s", "write_amp", "space_amp")
WALL_METRICS = ("wall.setup_s", "wall.first_answer_s", "wall.op_p50_s", "wall.op_tail_s", "wall.ops_per_s")
TRACED_METRICS = ("setup_s", "first_answer_cpu_s", "op_cpu_p50_s", "ops_per_cpu_s")


def layer_metrics(sessions: list[dict], e2e: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics of a traced run, plus the per-session span dump.

    Set-up layers (``session.get_spark_s``, ``sources.csv_load_s``) are the
    median over the run's sessions, like ``setup_s``.  Every other metric
    is a total over all ops of the run."""
    import statistics

    totals: dict[str, float] = {}
    get_spark, csv_load, dumps = [], [], []

    def add(name: str, value: float) -> None:
        totals[name] = totals.get(name, 0.0) + value

    for s in sessions:
        trace = s["trace"]
        own = self_times(trace["spans"])
        get_spark.append(own.get("session.get_spark", 0.0))
        csv_load.append(trace["counters"].get("sources.csv_load_s", 0.0))
        for span_name, metric in SELF_TIME_METRICS.items():
            add(metric, own.get(span_name, 0.0))
        for name in COUNT_METRICS:
            add(name, trace["counters"].get(name, 0))
        add(
            "executor.errors",
            trace["counters"].get("minilang.parse.errors", 0)
            + trace["counters"].get("executor.execute.errors", 0),
        )
        for row in trace["catalyst"]:
            for phase in CATALYST_PHASES:
                add(f"catalyst.{phase}_ms", row.get(phase, 0))
        groups = parse_event_log(s["eventlog"])
        for op in s["ops"]:
            g = groups.get(op["id"], _empty_group())
            for metric, (key, scale, _) in SPARK_METRICS.items():
                add(metric, g[key] * scale)
            add("driver.python_s", max(0.0, op["end"] - op["start"] - g["exec_ms"] / 1000))
            if op.get("op") == "read":
                add("managed.read_s", op["end"] - op["start"])
        add("streaming.batches", len(trace["streaming"]))
        for metric, key in STREAMING_PHASES.items():
            add(metric, sum(p["durationMs"].get(key, 0) for p in trace["streaming"]))
        dumps.append(
            {
                "spans": trace["spans"],
                "self_time_s": own,
                "job_groups": groups,
                "catalyst": trace["catalyst"],
                "streaming": trace["streaming"],
            }
        )

    calls = totals["caching.session_cache_calls"] + totals["caching.materialize_calls"]
    hits = totals["caching.session_cache_hits"] + totals["caching.materialize_hits"]
    metrics: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (statistics.median(get_spark), "s"),
        "sources.csv_load_s": (statistics.median(csv_load), "s"),
    }
    units = dict(COUNT_METRICS)
    units.update({m: "s" for m in SELF_TIME_METRICS.values()})
    units.update({m: u for m, (_, _, u) in SPARK_METRICS.items()})
    units.update({f"catalyst.{p}_ms": "ms" for p in CATALYST_PHASES})
    units.update({m: "ms" for m in STREAMING_PHASES})
    units.update(
        {
            "executor.errors": "count",
            "driver.python_s": "s",
            "managed.read_s": "s",
            "streaming.batches": "count",
        }
    )
    for name, unit in units.items():
        metrics[name] = (totals.get(name, 0.0), unit)
    metrics["caching.hit_ratio"] = (hits / calls if calls else 0.0, "ratio")
    for name in INGEST_METRICS:
        value, unit = e2e.get(name, (0.0, "s" if name.endswith("_s") else "ratio"))
        metrics[f"managed.{name}"] = (value, unit)
    metrics["peak_rss_mb"] = e2e["peak_rss_mb"]
    for name in WALL_METRICS:
        metrics[name] = e2e[name]
    # The traced run's own end-to-end figures; minus an untraced run's,
    # they give the tracing overhead (perfbench/overhead.py).
    for name in TRACED_METRICS:
        value, unit = e2e[name]
        metrics[f"traced.{name}"] = (value, unit)
    return metrics, dumps
