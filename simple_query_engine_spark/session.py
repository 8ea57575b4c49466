"""SparkSession factory with scale-oriented defaults.

The reference engine is single-threaded and in-memory (``src/main.rs:27-30``);
here the equivalent "engine startup" is building a SparkSession whose config
is chosen for large-cluster execution (AQE, broadcast thresholds, pushdown)
while remaining correct on ``local[N]`` for tests.

The reference starts a fresh process per session, and most of this engine's
start is JVM class loading.  When :func:`get_spark` launches the JVM it
starts it from a dynamic class-data archive (AppCDS) kept in the user cache
dir, ``${XDG_CACHE_HOME:-~/.cache}/simple_query_engine_spark/``: the first
launch on a host records the classes it loaded into the archive at exit,
every later launch maps them (SCALING.md, "Cold start").
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import threading
from contextlib import contextmanager
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, not the local test rig:
# - AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
#   dynamic broadcast conversion replace any hand-tuned partition counts.
# - shuffle.partitions is only the *initial* number; AQE coalesces it down
#   (locally) or the cluster manager scales it up (spark.sql.adaptive.
#   coalescePartitions.initialPartitionNum would be raised on a real cluster).
# - maxPartitionBytes 128m keeps scan tasks memory-bounded regardless of
#   total input size.
# - ANSI off: the reference's dynamic-typing semantics (cross-type compare is
#   "no match", never an error — SURVEY.md §1.2) map to permissive casts.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Engine-wide semantic: TIMESTAMP(NANOS) parquet columns surface as
    # epoch-nanos longs (Spark otherwise rejects them outright with
    # PARQUET_TYPE_ILLEGAL); sources/catalog.py converts them back to
    # microsecond timestamps.  A session default, not a per-read mutation —
    # every read path (batch + streaming) needs the same behavior.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (not-adjusted-to-UTC) parquet timestamps read as plain TIMESTAMP
    # (session-local, pinned to UTC below) rather than TIMESTAMP_NTZ.  The
    # engine's epoch arithmetic (cast to long, window starts, as-of joins)
    # and the DuckDB oracles (epoch() treats naive as UTC) both assume
    # epoch-addressable timestamps; NTZ would make every such cast illegal
    # under Spark 4 while representing the identical instant.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as annotated TIMESTAMP_MICROS, not legacy INT96
    # (pyarrow surfaces INT96 as nanoseconds, which would re-trigger the
    # nanos handling on our own outputs).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Required for Python Data Source readers that implement pushFilters
    # (sources/pydatasource.py); without it Spark refuses to plan the scan.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    # A session launched as a pyspark shell (PYSPARK_SUBMIT_ARGS=...
    # pyspark-shell) otherwise draws carriage-return [Stage ...] bars on
    # stderr, between the lines of every tool's log.
    "spark.ui.showConsoleProgress": "false",
    # PySpark otherwise wraps F.col and every Column method in a call-site
    # capture (pyspark/errors/utils.py, _with_origin): about seven py4j
    # round trips per call plus a stack walk that imports IPython once per
    # process.  It only fills the Python file:line of a runtime error's
    # "DataFrame" query context, which nothing here reads.  A static conf,
    # so it holds only for sessions get_spark builds (SCALING.md, "Cold
    # start").
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "simple-query-engine-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when
    unset) so the same code runs under the driver harness and on a cluster
    (where ``master`` comes from spark-submit and this arg is ignored).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    conf = dict(_DEFAULT_CONF)
    launching = _launches_jvm()
    if launching:
        # Local mode runs every executor thread inside the driver JVM, whose
        # un-configured heap is 1 GiB — 32 threads' shuffle/broadcast blocks
        # plus a long session's accumulated broadcasts OOM at that size (r17:
        # the 269-entry plan audit died in a broadcast exchange).  Sessions
        # handed to us by a harness keep their own setting, as does an
        # explicit SPARK_GRAFT_DRIVER_MEM.
        conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    if extra_conf:
        conf.update(extra_conf)
    archive = _class_archive(_archive_root(), os.getpid()) if launching else None
    if archive is not None:
        # Spark puts defaultJavaOptions before extraJavaOptions, so a
        # caller's own JVM flags still apply.
        own = conf.get("spark.driver.defaultJavaOptions")
        conf["spark.driver.defaultJavaOptions"] = " ".join(filter(None, [own, archive.option]))
    for key, value in conf.items():
        builder = builder.config(key, value)
    if archive is None:
        return builder.getOrCreate()
    with _env("SPARK_CONF_DIR", archive.conf_dir):
        spark = builder.getOrCreate()
    if archive.dump is not None:
        atexit.register(_finish_dump, archive, os.getpid())
    return spark


def _launches_jvm() -> bool:
    """True when building a session in this process starts a new JVM:
    none is running yet and no harness handed us a gateway."""
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


# -- Class-data archive ---------------------------------------------------------
#
# A stand-in for JDK 19's -XX:+AutoCreateSharedArchive, which JDK 17 lacks.
# A launch that finds the archive maps it.  One that misses has its JVM
# dump the classes it loaded into a per-process temp file as it exits, and
# an exit handler renames that file to the archive's name only if the JVM
# exited 0.  Nothing writes the archive's name in place: a truncated
# archive there kills JDK 17 at start with SIGBUS, while a missing or
# mismatched one only means a plain start.

# A dumping JVM otherwise prints hundreds of [cds] lines to stdout.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_DUMP_WAIT_S = 180.0  # the dump takes ~10 s of wall time on a 4-core host


class _Archive(NamedTuple):
    """One launch's plan: the JVM option, and for a miss the temp file
    the JVM dumps into."""

    root: str
    key: str
    option: str
    dump: str | None

    @property
    def path(self) -> str:
        return os.path.join(self.root, f"{self.key}.jsa")

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.root, "conf")


def _archive_root() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "simple_query_engine_spark")


def _class_archive(root: str, pid: int) -> _Archive | None:
    """The archive plan for a JVM that process ``pid`` launches now, or
    None for a plain start.

    The dump refuses a non-empty directory on the classpath, and Spark puts
    its conf dir there.  A conf dir holding only ``*.template`` files (all
    Spark ships) is swapped for an empty one, which changes no setting; a
    conf dir with a real file means a plain start.
    """
    from pyspark.find_spark_home import _find_spark_home

    if any(ch.isspace() or ch in "\"'" for ch in root):
        return None  # Spark splits the option string on whitespace
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        if not all(name.endswith(".template") for name in names):
            return None
        key = _archive_key(spark_home)
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
        if not os.access(root, os.W_OK):
            return None
    except OSError:
        return None
    _reap(root, key)
    path = os.path.join(root, f"{key}.jsa")
    if os.path.isfile(path):
        return _Archive(root, key, f"-XX:SharedArchiveFile={path} {_CDS_QUIET}", None)
    dump = f"{path}.tmp.{pid}"
    return _Archive(root, key, f"-XX:ArchiveClassesAtExit={dump} {_CDS_QUIET}", dump)


def _archive_key(spark_home: str) -> str:
    """Digest of what the archive's classes come from: the ``java`` binary
    Spark's launcher runs (realpath and stat) and the Spark jar listing."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise OSError("no java on PATH")
    java = os.path.realpath(java)
    jars = os.path.join(spark_home, "jars")
    files = [(java, os.stat(java))]
    files += [(name, os.stat(os.path.join(jars, name))) for name in sorted(os.listdir(jars))]
    listing = "\n".join(f"{name} {st.st_size} {st.st_mtime_ns}" for name, st in files)
    return hashlib.sha256(listing.encode()).hexdigest()[:16]


def _reap(root: str, key: str) -> None:
    """Delete other keys' archives, and temp files whose process is gone."""
    try:
        names = os.listdir(root)
    except OSError:  # the cache dir was deleted meanwhile
        return
    for name in names:
        if ".jsa.tmp." in name:
            pid = name.rsplit(".", 1)[1]
            if pid.isdigit() and _alive(int(pid)):
                continue
        elif not name.endswith(".jsa") or name == f"{key}.jsa":
            continue
        try:
            os.unlink(os.path.join(root, name))
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def _finish_dump(archive: _Archive, pid: int) -> None:
    """Exit handler of a launch that missed: stop the session, then end
    the JVM, which writes the dump as it exits."""
    if os.getpid() != pid:  # a forked child; the JVM belongs to its parent
        return
    try:
        stop_spark()
    except Exception:  # the JVM still exits on EOF, through its shutdown hooks
        pass
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        _promote(archive, proc)


def _promote(archive: _Archive, proc: subprocess.Popen) -> None:
    """Close the gateway's stdin (it exits on EOF) and wait for it; rename
    the dump to the archive's name only if it exited 0 in time, otherwise
    delete it."""
    try:
        proc.stdin.close()
        code = proc.wait(timeout=_DUMP_WAIT_S)
    except (OSError, ValueError, subprocess.TimeoutExpired):
        code = None
    try:
        if code == 0 and os.path.getsize(archive.dump) > 0:
            os.replace(archive.dump, archive.path)
        else:
            os.unlink(archive.dump)
    except OSError:
        pass
    _reap(archive.root, archive.key)


@contextmanager
def _env(name: str, value: str):
    """Set one environment variable for the duration of the block."""
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to an existing session.

    Used when the session is handed to us (driver contract ``entry(spark)``)
    instead of built by :func:`get_spark`.  Only runtime-mutable confs are
    applied.  Static confs (master, memory, the UI settings and
    ``spark.python.sql.dataFrameDebugging.enabled``) apply only to sessions
    that :func:`get_spark` builds; a handed-in session keeps its own.
    """
    for key, value in _DEFAULT_CONF.items():
        if key.startswith("spark.sql."):
            try:
                spark.conf.set(key, value)
            except Exception:  # conf not runtime-settable on this build
                pass
    return spark


# Serializes start_stream's set/restore of the shared session's conf.
_START_LOCK = threading.Lock()


def start_stream(spark: SparkSession, writer):
    """Start ``writer`` (a ``DataStreamWriter`` over a DataFrame of
    ``spark``) with one state partition per core; return the query.

    Structured Streaming has no AQE, so ``spark.sql.shuffle.partitions``
    fixes a stateful query's state-store task count, and the session
    default (32, sized for AQE to coalesce) would pay 32 tasks per
    micro-batch for any state size.  ``start()`` clones the session
    (``StreamExecution.sparkSessionForStream``), so the value set here
    for just that call is the query's own: the first batch records it
    in the checkpoint, and a query resumed from a checkpoint keeps the
    count recorded there.  The shared session is restored as soon as
    ``start()`` returns or raises.
    """
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        previous = spark.conf.get(key)
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, previous)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
