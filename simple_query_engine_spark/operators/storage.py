"""Partitioned-layout operators — the partition-pruning exhibit.

The reference engine keeps one in-memory table and scans it per query
(reference ``src/query_engine.rs:61-118``); its "index" is a sorted
column.  The Spark-native equivalent of indexing at 100 TB is *layout*:
write the fact table hive-partitioned by date so a time-bounded query
prunes whole directories at planning time — ``PartitionFilters`` in the
scan node, distinct from row-group-level ``PushedFilters``.  A one-week
query over a 30-day table then lists and reads ~23% of the files before a
single row is decoded; at 100 TB that is the difference between a 100 TB
scan and a few-TB scan.

``q_events_partition_prune`` materializes the date-partitioned copy once
per scale dir (a real pipeline maintains it as its canonical layout),
reads it back with a partition-column predicate, and aggregates.  The
DuckDB oracle runs the same week-window aggregate on the *original*
unpartitioned events table, so the check proves the partitioned layout is
lossless and the pruned scan returns exactly the rows the predicate
selects.  The plan assertion (``tests/test_storage.py``) pins
``PartitionFilters`` — not just ``PushedFilters`` — on the scan.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_query_engine_spark.functions.hashing import (
    md5_prefix_long,
    md5_prefix_long_sql,
)
from simple_query_engine_spark.sources.catalog import table
from simple_query_engine_spark.sources.sinks import write_parquet

PRUNE_WEEK_START = "2024-01-08"
PRUNE_WEEK_END = "2024-01-14"


def materialize_once(path: str, write) -> None:
    """Build a derived-copy directory exactly once, race-safely.

    ``write(tmp_path)`` produces the directory at a process-private temp
    path which is then atomically renamed into place, so a reader can
    never observe a half-written copy.  Builders are serialized under an
    exclusive flock (kernel-released on crash): without it, a second
    builder that passed the ``_SUCCESS`` check before the winner's rename
    would ``rmtree`` the winner's COMPLETE copy as "partial" — self-
    healing (the next call rebuilds) but a transient window where
    concurrent readers see the path vanish.  The fast path (``_SUCCESS``
    present) stays lock-free."""
    import contextlib
    import fcntl
    import shutil

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    # The lock file lives in a shared scratch root: another USER's leftover
    # lock (sticky /tmp forbids truncating it) must degrade to the old
    # lock-free rename-race protocol, not fail the query.
    try:
        lock_fh = open(f"{path}.lock", "w")
    except OSError:
        lock_fh = None
    def _reap_lock() -> None:
        # Best-effort: once _SUCCESS exists the fast path above is
        # lock-free forever, so the sidecar is pure litter — reap it.
        # If a concurrent waiter still holds the unlinked inode it just
        # re-checks _SUCCESS and returns; a recreated lock on some later
        # race is harmless (it gets reaped again the same way).
        with contextlib.suppress(OSError):
            os.unlink(f"{path}.lock")

    with lock_fh if lock_fh is not None else contextlib.nullcontext():
        if lock_fh is not None:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                _reap_lock()
                return  # another builder finished while we waited
        if os.path.exists(path):  # crashed/partial previous materialization
            shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                # Lost a (lock-free fallback) race; theirs is complete.
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                raise
        _reap_lock()


# A per-run scratch dir lives for one query run (minutes), and a staged
# copy is touched each time it is requested; anything this old under the
# scratch root is a leak from a finished or crashed run, or a copy nobody
# has used.  The gate is deliberately huge — a full 3-SF certification
# sweep stays under a few hours — so a concurrent process can never lose
# a live scratch.  Long-lived deployments whose lazy DataFrames may be
# re-scanned days after creation raise the TTL via SQE_SCRATCH_TTL_SEC
# (ADVICE r14).  A malformed value falls back to the 24h default instead
# of crashing module import (ADVICE r15).
try:
    _SCRATCH_TTL_SEC = int(os.environ.get("SQE_SCRATCH_TTL_SEC", 24 * 3600))
except ValueError:
    _SCRATCH_TTL_SEC = 24 * 3600


def sweep_stale_scratch(root: str, prefix: str | None = None) -> None:
    """Reclaim scratch-root entries older than ``_SCRATCH_TTL_SEC``.
    Per-run scratch dirs must outlive their function (a returned lazy
    DataFrame scans them), so only a LATER run's sweep can reclaim them.

    ``prefix`` restricts the sweep to entries THIS code created (their
    mkdtemp name prefix) — mandatory hygiene when the root is
    user-configurable (ADVICE r14: a shared dir pointed at by
    ``spark.sqe.scratchDir`` must never have unrelated old files
    reclaimed)."""
    import shutil
    import time

    os.makedirs(root, exist_ok=True)
    cutoff = time.time() - _SCRATCH_TTL_SEC
    for name in os.listdir(root):
        if prefix is not None and not name.startswith(prefix):
            continue
        p = os.path.join(root, name)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except FileNotFoundError:
            pass  # a concurrent sweep got there first


# The engine's one scratch root: all on-disk engine state lives under it —
# per-run scratch (session materializations, the connected-components
# rounds, the DML scratch tables, the streaming run roots and throwaway
# checkpoints) and the staged copies that outlive a query.  On a cluster,
# set it to a shared mount every executor can read; it defaults under the
# system temp dir.
SCRATCH_CONF = "spark.sqe.scratchDir"
# Name prefix of every entry the engine creates under the root: the only
# entries its sweep may reclaim under a user-configured root.
_SCRATCH_MARK = "sqe_"


def _scratch_root(spark: SparkSession) -> str:
    """The scratch root (``SCRATCH_CONF``) as an absolute local path.

    Python creates, reaps and sweeps entries with ``os`` calls while the
    JVM writes into them, so the root must be a local (or locally
    mounted) path: a URI would half-work — Spark writing remotely, Python
    creating a local ``./hdfs:/...`` tree that nothing sweeps — and is
    refused.  A relative root is made absolute, since the JVM and Python
    resolve relative paths against different working directories."""
    root = spark.conf.get(SCRATCH_CONF, None) or os.path.join(
        tempfile.gettempdir(), "sqe_scratch"
    )
    if "://" in root:
        raise ValueError(
            f"{SCRATCH_CONF}={root!r}: the scratch root must be a local or "
            "locally mounted path, not a URI"
        )
    return os.path.abspath(root)


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """``mkdtemp`` under the scratch root, sweeping the engine's entries
    older than ``_SCRATCH_TTL_SEC`` first.

    Per-run scratch is scanned by lazy DataFrames handed back to the
    caller, so nothing can delete it at return; sweeping on a LATER call
    bounds the backlog without touching any live run's scratch."""
    root = _scratch_root(spark)
    sweep_stale_scratch(root, prefix=_SCRATCH_MARK)
    return tempfile.mkdtemp(prefix=_SCRATCH_MARK + prefix, dir=root)


def staged_path(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...],
    name: str,
    tag: str = "",
) -> str:
    """Path of a staged copy: a layout derived from ``sf_dir``'s
    ``tables`` that outlives a query and is shared across processes
    (build it with :func:`materialize_once`).

    It is ``<root>/sqe_stage_<name>_<root tag>_<generation>``.  The root
    tag digests the RESOLVED ``sf_dir``, so roots sharing a basename
    (``/a/sf0.1``, ``/b/sf0.1``) keep independent copies (ADVICE r16).
    The generation digests ``tag`` and each source table's size and
    mtime, so a regenerated source or a new tag names a new copy.

    Older generations of the same name and root can never be served
    again and are reaped here; the live copy's in-flight ``.tmp.<pid>``
    and ``.lock`` sidecars are spared (ADVICE r16: reaping them would
    defeat materialize_once's race safety).  The live copy is touched,
    so the root's TTL sweep (run by :func:`scratch_dir`) reclaims only
    copies nobody uses."""
    import contextlib
    import hashlib
    import shutil

    def digest(text: str) -> str:
        return hashlib.md5(text.encode()).hexdigest()[:12]

    root = _scratch_root(spark)
    os.makedirs(root, exist_ok=True)
    identity = [tag]
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        identity.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    head = f"{_SCRATCH_MARK}stage_{name}_{digest(os.path.realpath(sf_dir))}_"
    live = head + digest("|".join(identity))
    for entry in os.listdir(root):
        if not entry.startswith(head) or entry.split(".", 1)[0] == live:
            continue
        stale = os.path.join(root, entry)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        else:
            with contextlib.suppress(OSError):
                os.unlink(stale)
    path = os.path.join(root, live)
    with contextlib.suppress(FileNotFoundError):
        os.utime(path)
    return path


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as date-partitioned parquet (written on first use).

    ``event_date`` becomes the hive partition key.  The write goes through
    :func:`write_parquet`, the same sink a production pipeline would use.
    """
    path = staged_path(spark, sf_dir, ("events",), "by_day")
    materialize_once(
        path,
        lambda tmp: write_parquet(
            table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts")),
            tmp,
            partition_by=["event_date"],
        ),
    )
    return spark.read.parquet(path)


def q_events_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-window aggregate over the date-partitioned events copy.

    The ``event_date`` predicate is a partition filter: Spark prunes the
    other 23 day-directories during planning, before any file is opened.
    """
    events = partitioned_events(spark, sf_dir)
    return (
        events.filter(
            (F.col("event_date") >= F.lit(PRUNE_WEEK_START).cast("date"))
            & (F.col("event_date") <= F.lit(PRUNE_WEEK_END).cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def q_join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime complement of
    ``events_partition_prune``: the fact's partition filter is not a
    literal the planner can see, it is the result of filtering a
    DIMENSION on a non-partition attribute (``week_label``), so static
    pruning is impossible.  Catalyst plans a DPP subquery instead: the
    broadcast dim's build side is reused to compute the surviving
    ``event_date`` values at RUNTIME, and the fact scan prunes its
    partition directories before opening a file —
    ``dynamicpruningexpression`` inside the scan's PartitionFilters,
    asserted in tests/test_storage.py.

    At 100 TB this is the star-join workhorse: "revenue for week 2" style
    queries where the date range lives in a calendar/dim table prune the
    fact to the matching partitions with zero user hints.  The calendar
    dim here is derived deterministically (day i → 2024-01-01 + i,
    week_label = 'w' || (i // 7 + 1)) so the DuckDB oracle rebuilds the
    identical dim relationally.
    """
    events = partitioned_events(spark, sf_dir)
    dim = spark.range(31).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "cal_date"
        ),
        F.concat(
            F.lit("w"), (F.floor(F.col("id") / 7) + 1).cast("int")
        ).alias("week_label"),
    )
    joined = events.join(
        F.broadcast(dim.filter(F.col("week_label") == "w2")),
        events["event_date"] == F.col("cal_date"),
    )
    return joined.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def _events_for_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events projected to roundtrip-stable types (timestamps as epoch
    longs — JSON/CSV have no canonical timestamp encoding; the epoch long
    survives any text format bit-exactly)."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_epoch"),
        "value",
        "user_id",
    )


def _roundtrip_aggregate(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("id_sum"),
        F.min("ts_epoch").alias("first_epoch"),
        F.max("ts_epoch").alias("last_epoch"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON sink → JSON source (schema inference) → aggregate.

    The oracle runs the same aggregate on the ORIGINAL parquet, so a green
    row proves the JSON write+read is lossless for these types.  The JSON
    source shares the scan machinery of every file source (splits,
    projection); schema inference samples the files like the reference's
    CSV type sniffing (reference ``src/table.rs:111-136``) but per-column
    over the whole sample.
    """
    path = staged_path(spark, sf_dir, ("events",), "json")
    materialize_once(
        path,
        lambda tmp: _events_for_roundtrip(spark, sf_dir)
        .write.mode("overwrite")
        .json(tmp),
    )
    return _roundtrip_aggregate(spark.read.json(path))


def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV sink (header) → CSV source (header + inferSchema) →
    aggregate; oracle on the original parquet proves losslessness.  This
    is the reference's own load contract (header row, per-column type
    inference) exercised at catalog scale."""
    path = staged_path(spark, sf_dir, ("events",), "csv")
    materialize_once(
        path,
        lambda tmp: _events_for_roundtrip(spark, sf_dir)
        .write.mode("overwrite")
        .option("header", True)
        .csv(tmp),
    )
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return _roundtrip_aggregate(df)


def q_source_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV DIALECT conformance roundtrip: every field shape that breaks a
    naive split-on-comma parser — embedded delimiters, embedded double
    quotes, and embedded NEWLINES — derived deterministically from the
    documents table, written through Spark's CSV sink with RFC-4180
    quoting (quote='"', escape='"' → doubled quotes), and read back with
    ``multiLine`` record reassembly.  The aggregate fingerprints the
    read-back payloads (md5-prefix sums + per-hazard counts); the oracle
    computes the SAME aggregate over the in-SQL derivation — green only
    if the write+read preserved every byte of every hazard.  This is the
    dialect surface the reference's naive comma-split loader
    (``src/table.rs:89-109``) gets wrong by construction — the
    conformance the brief's "CSV scan source" must actually have.

    Shape: the dialect stress is I/O-bound by design; ``multiLine``
    disables record-level splitting WITHIN a file (a quoted newline can
    cross a split boundary), so the parallelism unit becomes the file —
    the production mitigation is many files, which the sink's
    partitioned write already produces."""
    path = staged_path(spark, sf_dir, ("documents",), "csvdialect")
    tricky = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('pre,"mid" '),
            F.substring("text", 1, 20),
            F.lit(",\ntail"),
        ).alias("payload"),
        "lang",
    )
    materialize_once(
        path,
        lambda tmp: tricky.write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(tmp),
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "payload", "lang")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("payload")).alias("payload_chars"),
        F.sum(md5_prefix_long(F.col("payload"), 8)).alias("payload_md5_sum"),
        F.sum(F.col("payload").contains(",").cast("long")).alias("with_comma"),
        F.sum(F.col("payload").contains('"').cast("long")).alias("with_quote"),
        F.sum(F.col("payload").contains("\n").cast("long")).alias("with_newline"),
        F.count_distinct("lang").alias("n_langs"),
    )


_CSV_DIALECT_ORACLE = f"""
    WITH tricky AS (
        SELECT doc_id,
               'pre,"mid" ' || substr(text, 1, 20) || ',' || chr(10) || 'tail'
                   AS payload,
               lang
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(length(payload)) AS BIGINT) AS payload_chars,
           CAST(SUM({md5_prefix_long_sql("payload", 8)}) AS BIGINT)
               AS payload_md5_sum,
           CAST(SUM(CASE WHEN contains(payload, ',') THEN 1 ELSE 0 END)
                AS BIGINT) AS with_comma,
           CAST(SUM(CASE WHEN contains(payload, '"') THEN 1 ELSE 0 END)
                AS BIGINT) AS with_quote,
           CAST(SUM(CASE WHEN contains(payload, chr(10)) THEN 1 ELSE 0 END)
                AS BIGINT) AS with_newline,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM tricky
"""


def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC sink → ORC source → aggregate; oracle on the original
    parquet proves losslessness.  ORC is the third columnar format in the
    source matrix (parquet/JSON/CSV/ORC + the custom Python connector);
    unlike the text formats it carries types natively, so the roundtrip
    projection needs no epoch workaround — but we reuse the same stable
    projection so all three roundtrip queries share one oracle."""
    path = staged_path(spark, sf_dir, ("events",), "orc")
    materialize_once(
        path,
        lambda tmp: _events_for_roundtrip(spark, sf_dir)
        .write.mode("overwrite")
        .orc(tmp),
    )
    return _roundtrip_aggregate(spark.read.orc(path))


def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + aggregate over the custom Python Data Source connector.

    The connector (``sources/pydatasource.py``) generates a deterministic
    sensor-readings table sized to the events table, partition-parallel
    with Arrow batches.  The ``reading_id >= cutoff`` predicate is pushed
    INTO the connector (range narrowing — the rows below the cutoff are
    never generated); the ``kind`` equality is declined by ``pushFilters``
    and evaluated by Spark post-scan.  The oracle regenerates the same
    table from ``range()`` with the shared closed forms, so a green row
    proves the connector's planning, pushdown, and distributed reads are
    lossless.
    """
    from simple_query_engine_spark.sources.pydatasource import (
        register_readings_source,
    )

    register_readings_source(spark)
    n_rows = table(spark, sf_dir, "events").count()
    cutoff = n_rows // 10
    readings = (
        spark.read.format("sqe_readings")
        .option("rows", n_rows)
        .option("numPartitions", 8)
        .load()
    )
    return (
        readings.filter(
            (F.col("reading_id") >= F.lit(cutoff)) & (F.col("kind") == "temp")
        )
        .groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.round(F.sum("reading"), 4).alias("reading_sum"),
            F.max("reading_id").alias("last_reading_id"),
        )
    )


def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over the custom Python connector.

    ``readStream`` against the connector's ``DataSourceStreamReader``:
    the driver plans offset range + equal-width partitions, executors
    generate Arrow batches, and the windowless grouped aggregate runs in
    the streaming engine (complete mode, availableNow drain).  The
    oracle is the same closed-form regeneration — green proves the
    streaming planner and the batch reader agree on the data.  Restart
    exactly-once for this connector is pinned in tests.
    """
    from simple_query_engine_spark.sources.pydatasource import (
        register_readings_source,
    )
    from simple_query_engine_spark.streaming.explain_capture import (
        run_to_memory_sink,
    )

    register_readings_source(spark)
    n_rows = table(spark, sf_dir, "events").count()
    stream = (
        spark.readStream.format("sqe_readings")
        .option("rows", n_rows)
        .option("numPartitions", 8)
        .load()
    )
    agg = stream.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.round(F.sum("reading"), 4).alias("reading_sum"),
        F.max("reading_id").alias("last_reading_id"),
    )
    return run_to_memory_sink(agg, "pyds_stream", "python_datasource_stream")


def q_sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → custom manifest-committing sink → manifest read-back →
    aggregate.  The writer is the Python Data Source writer API with the
    two-phase commit protocol (task files + atomic driver manifest); the
    oracle aggregates the ORIGINAL events, so green proves the custom
    sink's write → commit → read path is lossless."""
    from simple_query_engine_spark.sources.pydatasource import (
        read_manifest_parquet,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    path = staged_path(spark, sf_dir, ("events",), "pysink")
    materialize_once(
        path,
        lambda tmp: _events_for_roundtrip(spark, sf_dir)
        .write.format("sqe_manifest_parquet")
        .mode("append")
        .save(tmp),
    )
    return _roundtrip_aggregate(read_manifest_parquet(spark, path))


BUCKETED_JOIN_BUCKETS = 8


def q_join_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority over two tables BUCKETED on the join key
    — the layout that elides the fact-fact join shuffle at 100 TB.

    Both sides persist once as bucketed+sorted external tables (staged
    copies under the scratch root; a real pipeline maintains these as its
    canonical fact layout): identically-bucketed scans expose matching
    ``HashPartitioning(o_orderkey, N)``, so the sort-merge join consumes
    them with NO exchange — the no-shuffle property is plan-asserted in
    tests/test_bucketing.py, and this catalog entry proves the layout is
    lossless (the DuckDB oracle joins the original unbucketed parquet).
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lineitem = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount"
    )
    names = []
    for source, df in (("orders", orders), ("lineitem", lineitem)):
        loc = staged_path(spark, sf_dir, (source,), f"{source}_bkt")
        # The staged name less its generation: one catalog table per
        # (source, sf_dir), so two sf_dirs in one session cannot clobber
        # each other's registration.
        name = os.path.basename(loc).rsplit("_", 1)[0]
        names.append(name)

        def _write_bucketed(tmp: str, df: DataFrame = df, name: str = name) -> None:
            # saveAsTable is the only writer that records the bucket spec,
            # but it writes straight to its path — so it targets a scratch
            # table over materialize_once's process-private tmp dir, which
            # is then atomically renamed into place (two concurrent
            # processes can no longer interleave writes at the shared
            # path).  The scratch table has an explicit path, hence is
            # EXTERNAL: dropping it removes only the metadata entry and
            # leaves the files for the rename.
            scratch = f"{name}_w{os.getpid()}"
            spark.sql(f"DROP TABLE IF EXISTS {scratch}")
            (
                df.write.mode("overwrite")
                .bucketBy(BUCKETED_JOIN_BUCKETS, "o_orderkey")
                .sortBy("o_orderkey")
                .option("path", tmp)
                .format("parquet")
                .saveAsTable(scratch)
            )
            spark.sql(f"DROP TABLE IF EXISTS {scratch}")

        materialize_once(loc, _write_bucketed)
        # Register the external bucketed table over the committed location —
        # metadata-only; the one registration path whether this process
        # wrote the layout or found it.
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) "
            f"INTO {BUCKETED_JOIN_BUCKETS} BUCKETS LOCATION '{loc}'"
        )
    joined = spark.table(names[0]).join(spark.table(names[1]), "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


ZORDER_BITS = 8  # 8 bits per dimension → 16-bit z-value, 256×256 grid
ZORDER_CELL_SHIFT = 10  # report per top-6-bit cell: an 8×8 macro-grid
ZORDER_EPOCH = "1995-01-01"  # day-number origin for the date dimension


def _zorder_terms():
    """(shift_in, shift_out) pairs for interleaving two ZORDER_BITS-wide
    bucket values — ONE definition drives both engines' expressions so the
    bit layout can never drift."""
    return [(i, 2 * i) for i in range(ZORDER_BITS)]


def _z_interleave_col(hi, lo):
    """Spark column: bits of ``hi`` at odd positions, ``lo`` at even —
    the shared round-robin interleave (functions/zorder.py) with the
    dimension order [lo, hi]; one bit-layout definition drives this
    exhibit, the managed-table OPTIMIZE path, and (textually mirrored in
    ``_z_interleave_sql``) the DuckDB oracle."""
    from simple_query_engine_spark.functions.zorder import z_interleave

    return z_interleave([lo, hi], ZORDER_BITS)


def _z_interleave_sql(hi: str, lo: str) -> str:
    parts = []
    for i, out in _zorder_terms():
        parts.append(f"((({hi} >> {i}) & 1) << {out + 1})")
        parts.append(f"((({lo} >> {i}) & 1) << {out})")
    return " + ".join(parts)


def zordered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as (ck, day, z): both dimensions scaled to the 2⁸ grid with
    exact integer arithmetic, interleaved into the 16-bit z-value.  The
    catalog query reports over this; tests write it as an actual z-sorted
    parquet layout and measure file skipping."""
    orders = table(spark, sf_dir, "orders")
    dims = orders.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.to_date("o_orderdate"), F.lit(ZORDER_EPOCH).cast("date")).alias(
            "day"
        ),
    )
    bounds = dims.agg(
        F.min("ck").alias("min_ck"),
        F.max("ck").alias("max_ck"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )
    scaled = dims.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "day",
        F.expr(
            f"((ck - min_ck) * {1 << ZORDER_BITS}) div (max_ck - min_ck + 1)"
        ).alias("b_ck"),
        F.expr(
            f"((day - min_day) * {1 << ZORDER_BITS}) div (max_day - min_day + 1)"
        ).alias("b_day"),
    )
    return scaled.select(
        "ck",
        "day",
        _z_interleave_col(F.col("b_ck"), F.col("b_day")).alias("z"),
    )


def q_storage_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering of orders on (o_custkey,
    o_orderdate) + the per-cell min/max report that proves the locality —
    the multi-dimensional complement of the date-partitioned and bucketed
    layouts: partitioning prunes ONE dimension, z-order keeps BOTH
    dimensions' value ranges tight within every file, so an engine with
    file/row-group min-max stats (parquet footers, Delta/Iceberg data
    skipping) prunes 2-D box predicates (customer range × date range).
    The measured row-group-skipping evidence for a box query lives in
    tests/test_storage.py over a z-sorted parquet layout.

    Math: each dimension is scaled to a 2⁸ grid with exact integer
    arithmetic — ((v − min)·256) div (max − min + 1) — and the two bucket
    values interleave bitwise into a 16-bit z-value (one shared
    bit-layout definition drives both engines).  The report groups by the
    top-6-bit z-cell (an 8×8 macro-grid): every cell's custkey/day spans
    are tight boxes, which IS the skippability property.

    Shape at 100 TB: the min/max normalization is one tiny aggregate
    broadcast back (at production scale these bounds come from table
    stats); the z-value is a pure per-row map; the report is one
    map-side-combined aggregate to ≤ 64 rows.  The layout write path is
    ``repartitionByRange(z) + sortWithinPartitions(z)`` — a single range
    shuffle, exactly what OPTIMIZE ZORDER does.
    """
    zed = zordered_orders(spark, sf_dir)
    return (
        zed.groupBy(F.shiftright(F.col("z"), ZORDER_CELL_SHIFT).alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


def _zorder_oracle_sql() -> str:
    grid = 1 << ZORDER_BITS
    return f"""
        WITH dims AS (
            SELECT o_custkey AS ck,
                   date_diff('day', DATE '{ZORDER_EPOCH}',
                             CAST(o_orderdate AS DATE)) AS day
            FROM orders
        ), bounds AS (
            SELECT MIN(ck) AS min_ck, MAX(ck) AS max_ck,
                   MIN(day) AS min_day, MAX(day) AS max_day
            FROM dims
        ), scaled AS (
            SELECT ck, day,
                   ((ck - min_ck) * {grid}) // (max_ck - min_ck + 1) AS b_ck,
                   ((day - min_day) * {grid}) // (max_day - min_day + 1) AS b_day
            FROM dims, bounds
        ), zed AS (
            SELECT ck, day,
                   {_z_interleave_sql('b_ck', 'b_day')} AS z
            FROM scaled
        )
        SELECT z >> {ZORDER_CELL_SHIFT} AS zcell,
               COUNT(*) AS n_orders,
               MIN(ck) AS min_ck, MAX(ck) AS max_ck,
               CAST(MIN(day) AS INT) AS min_day, CAST(MAX(day) AS INT) AS max_day
        FROM zed GROUP BY 1
    """


QUERIES = {
    "events_partition_prune": q_events_partition_prune,
    "join_dpp_partitioned": q_join_dpp_partitioned,
    "storage_zorder_prune": q_storage_zorder_prune,
    "join_bucketed_revenue": q_join_bucketed_revenue,
    "source_json_roundtrip": q_source_json_roundtrip,
    "source_csv_roundtrip": q_source_csv_roundtrip,
    "source_csv_dialect": q_source_csv_dialect,
    "source_orc_roundtrip": q_source_orc_roundtrip,
    "source_python_datasource": q_source_python_datasource,
    "stream_python_datasource": q_stream_python_datasource,
    "sink_python_datasource": q_sink_python_datasource,
}

_ROUNDTRIP_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_epoch,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY event_type
"""

ORACLES = {
    "storage_zorder_prune": _zorder_oracle_sql(),
    "join_bucketed_revenue": """
        SELECT o_orderpriority,
               COUNT(*) AS n_items,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    "source_json_roundtrip": _ROUNDTRIP_ORACLE,
    "source_csv_roundtrip": _ROUNDTRIP_ORACLE,
    "source_csv_dialect": _CSV_DIALECT_ORACLE,
    "source_orc_roundtrip": _ROUNDTRIP_ORACLE,
    # The dim is rebuilt relationally (day i → 2024-01-01 + i); the join
    # + week filter must select exactly week-2 dates.
    "join_dpp_partitioned": """
        WITH dim AS (
            SELECT (DATE '2024-01-01' + CAST(i AS INT)) AS cal_date,
                   'w' || CAST(i // 7 + 1 AS VARCHAR) AS week_label
            FROM range(31) t(i)
        )
        SELECT CAST(ts AS DATE) AS event_date,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 4) AS total_value
        FROM events JOIN dim ON CAST(ts AS DATE) = cal_date
        WHERE week_label = 'w2'
        GROUP BY 1
    """,
    "events_partition_prune": f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '{PRUNE_WEEK_START}'
                                   AND DATE '{PRUNE_WEEK_END}'
        GROUP BY event_type
    """,
    # Regenerates the connector's deterministic rows from range() with the
    # closed forms documented in sources/pydatasource.py (keep in sync):
    # kind = ('temp','humidity','pressure')[i % 3], so kind='temp' ⇔ i%3=0.
    "source_python_datasource": """
        WITH gen AS (  -- ids 0..count(events)-1 (range() rejects subqueries)
            SELECT ROW_NUMBER() OVER () - 1 AS i FROM events
        )
        SELECT i % 97 AS sensor_id,
               COUNT(*) AS n_readings,
               ROUND(SUM(((i * 37) % 1000) / 10.0), 4) AS reading_sum,
               MAX(i) AS last_reading_id
        FROM gen
        WHERE i >= (SELECT COUNT(*) // 10 FROM events)
          AND i % 3 = 0
        GROUP BY 1
    """,
    "stream_python_datasource": """
        WITH gen AS (
            SELECT ROW_NUMBER() OVER () - 1 AS i FROM events
        )
        SELECT CASE i % 3 WHEN 0 THEN 'temp'
                          WHEN 1 THEN 'humidity'
                          ELSE 'pressure' END AS kind,
               COUNT(*) AS n_readings,
               ROUND(SUM(((i * 37) % 1000) / 10.0), 4) AS reading_sum,
               MAX(i) AS last_reading_id
        FROM gen
        GROUP BY 1
    """,
    "sink_python_datasource": _ROUNDTRIP_ORACLE,
}
