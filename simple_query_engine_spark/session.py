"""SparkSession factory with scale-oriented defaults.

The reference engine is single-threaded and in-memory (``src/main.rs:27-30``);
here the equivalent "engine startup" is building a SparkSession whose config
is chosen for large-cluster execution (AQE, broadcast thresholds, pushdown)
while remaining correct on ``local[N]`` for tests.
"""

from __future__ import annotations

import os

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
    # Local mode runs every executor thread inside the driver JVM, whose
    # un-configured heap is 1 GiB — 32 threads' shuffle/broadcast blocks
    # plus a long session's accumulated broadcasts OOM at that size (r17:
    # the 269-entry plan audit died in a broadcast exchange).  Only
    # effective when this call actually LAUNCHES the JVM (a fresh
    # process); sessions handed to us by a harness keep their own
    # setting, as does an explicit SPARK_GRAFT_DRIVER_MEM.
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    )
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to an existing session.

    Used when the session is handed to us (driver contract ``entry(spark)``)
    instead of built by :func:`get_spark`.  Only runtime-mutable confs are
    applied; statically-bound ones (master, memory) are left as-is.
    """
    for key, value in _DEFAULT_CONF.items():
        if key.startswith("spark.sql."):
            try:
                spark.conf.set(key, value)
            except Exception:  # conf not runtime-settable on this build
                pass
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
