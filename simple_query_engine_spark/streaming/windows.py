"""Event-time windowed aggregation — batch and Structured Streaming paths.

The reference has no streaming at all (SURVEY.md §2.2); this module is the
extension slice.  The same windowed aggregations are defined once and run
two ways:

- **batch**: ``F.window`` / ``F.session_window`` over the static events
  table — this is what the driver's DuckDB oracle can check exactly.
- **streaming**: ``readStream`` over the same parquet directory with a
  watermark, ``availableNow`` trigger and an in-memory sink — identical
  results on static input, plus the late-data drop semantics exercised in
  tests (a file-per-batch replay drives the watermark forward).

Window starts are emitted as epoch seconds (``long``) so timestamps hash
identically across engines.

Scale notes: event-time windows keyed by (window, event_type) shuffle only
(key, partial-agg) pairs; watermarks bound state size — without one, 100 TB
of stream history would accumulate in the state store.  Session windows use
Spark's built-in merging state; gap-based sessions never require a global
sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_query_engine_spark.sources.catalog import footer_schema
from simple_query_engine_spark.streaming.explain_capture import run_to_memory_sink

TUMBLE = "1 hour"
SLIDE_SIZE = "1 hour"
SLIDE_STEP = "30 minutes"
SESSION_GAP = "10 minutes"
WATERMARK = "1 hour"


def read_event_stream(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source readStream over an events parquet path (file or dir).

    Centralizes the quirks every streaming entry point needs: ts
    reconstruction from nanos-as-long parquet (Spark rejects
    TIMESTAMP(NANOS); the ``nanosAsLong`` conf is an engine-wide session
    default, ``session._DEFAULT_CONF``), a job-free schema peek at one
    footer (``catalog.footer_schema``), and the single-file case (Spark's
    file stream source requires a directory, so a file path becomes
    parent-dir + pathGlobFilter).
    """
    schema, _ = footer_schema(spark, events_path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        stream = reader.parquet(os.path.dirname(events_path))
    else:
        stream = reader.parquet(events_path)
    if dict(stream.dtypes).get("ts") == "bigint":  # nanos-as-long parquet
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def tumbling_window_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type: count + sum(value)."""
    return (
        events.groupBy(F.window("ts", TUMBLE), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


def sliding_window_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event in 2 windows)."""
    return (
        events.groupBy(F.window("ts", SLIDE_SIZE, SLIDE_STEP), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "event_count",
        )
    )


def session_window_counts(events: DataFrame) -> DataFrame:
    """Per-user sessions with a 10-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("session_window.start").cast("long").alias("session_start"),
            "user_id",
            "event_count",
        )
    )


def run_stream_stream_join(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """Stream-stream inner join: click events joined to purchase events by
    the same user within the following hour.

    Both sides are real streams with watermarks — the state store holds
    each side's rows only until the other side's watermark passes the join
    window (the time-bound condition is what lets Spark evict; an
    unbounded stream-stream join would accumulate state forever).  On a
    single-batch ``availableNow`` replay the result equals the equivalent
    batch interval join, which is what the oracle checks.
    """
    def side(event_type: str, alias_prefix: str) -> DataFrame:
        stream = read_event_stream(spark, events_path)
        return (
            stream.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias_prefix}_user"),
                F.col("event_id").alias(f"{alias_prefix}_id"),
                F.col("ts").alias(f"{alias_prefix}_ts"),
            )
            .withWatermark(f"{alias_prefix}_ts", WATERMARK)
        )

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("long").alias("click_epoch"),
        F.col("purchase_ts").cast("long").alias("purchase_epoch"),
    )
    return run_to_memory_sink(joined, "ssj", "stream_join", output_mode="append")


def _run_windowed_stream(
    spark: SparkSession,
    events_path: str,
    window_fn,
    sink_prefix: str,
    max_files_per_trigger: int | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    """Shared Structured Streaming harness: ``readStream`` (schema from a
    batch peek) → watermark → ``window_fn`` agg → ``availableNow`` into a
    memory sink; returns the sink table.  With ``max_files_per_trigger``
    the static input replays as multiple micro-batches, driving the
    watermark (used by the late-data test and the append-mode late-drop
    accounting, which passes ``output_mode="append"``)."""
    stream = read_event_stream(spark, events_path, max_files_per_trigger)
    windowed = window_fn(stream.withWatermark("ts", WATERMARK))
    return run_to_memory_sink(
        windowed, sink_prefix, f"windowed:{sink_prefix}", output_mode=output_mode
    )


# Late-data drop accounting: day-1..5 events with event_id % MOD == 0 are
# withheld from their in-order batch and replayed in the LAST batch, weeks
# after their event time.  The margin is the design point: Spark's
# watermark advance lags batch boundaries (empirically up to one extra
# batch, see tests/test_streaming.py::test_watermark_drops_late_data), so
# a certified oracle must only plant stragglers whose windows are closed
# under EVERY lag convention — these are ~2-3 weeks late against a 1-hour
# watermark, orders of magnitude past any boundary ambiguity.
LATE_STRAGGLER_MOD = 97
LATE_STRAGGLER_END = "2024-01-06"  # stragglers have ts strictly before this
LATE_BATCH_SPLITS = ("2024-01-08", "2024-01-15", "2024-01-22")  # weekly batches


def daily_window_counts(events: DataFrame) -> DataFrame:
    """1-day tumbling windows per event_type: count + integer-cents sum
    (the money convention — exact under any accumulation order)."""
    return (
        events.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "event_count",
            "value_cents",
        )
    )


# Sentinel event times: three trailing single-row batches far past the
# corpus.  APPEND mode only emits a window once the watermark passes its
# end, and the watermark advance can lag a batch (see above) — the
# sentinels guarantee that by the LAST batch the effective watermark is
# ≥ March 1 under any ≤ 1-batch lag convention, so every real (January)
# window has been emitted, while the sentinels' own windows never close
# and therefore never appear in the output.
LATE_SENTINEL_TS = ("2024-03-01", "2024-04-01", "2024-05-01")


def sentinel_batches(spark: SparkSession) -> list[DataFrame]:
    """The three trailing single-row sentinel batches (event_id −1, type
    'sentinel') that march the watermark past every real window/timeout —
    shared by the late-drop exhibit and the TTL-session op."""
    return [
        spark.createDataFrame(
            [(-1, sent_ts, "sentinel", 0.0)],
            "event_id long, ts string, event_type string, value double",
        ).select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            "value",
        )
        for sent_ts in LATE_SENTINEL_TS
    ]


def write_ordered_batches(tmp: str, batches: list[DataFrame]) -> None:
    """Write each batch as ONE parquet file with strictly increasing
    mtimes (the file stream source replays oldest-first under
    ``maxFilesPerTrigger=1``), then drop the ``_SUCCESS`` marker
    ``materialize_once`` requires."""
    import shutil

    os.makedirs(tmp, exist_ok=True)
    for k, batch in enumerate(batches):
        part_dir = os.path.join(tmp, f"_b{k}")
        batch.coalesce(1).write.parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dest = os.path.join(tmp, f"b{k}.parquet")
        shutil.move(os.path.join(part_dir, part), dest)
        shutil.rmtree(part_dir)
        os.utime(dest, (1_000_000 * (k + 1), 1_000_000 * (k + 1)))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def run_late_drop_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked daily counts (APPEND mode) over an ordered replay where
    the straggler slice arrives weeks late and is DROPPED by the watermark.

    The events table is staged once per scale dir as ordered files (fixed
    increasing mtimes; the file source replays oldest-first with
    ``maxFilesPerTrigger=1``): three in-order weekly batches, the final
    week PLUS the held-back stragglers, then three sentinel batches that
    push the watermark past every real window.  Complete mode would never
    evict state (late rows always merge — measured), so the drop is only
    observable in append mode; the final emitted set equals the batch
    aggregate over everything EXCEPT the stragglers — exactly what the
    DuckDB oracle computes over the original table (which contains
    neither stragglers-as-late-copies nor sentinels).
    """
    from simple_query_engine_spark.operators.storage import (
        materialize_once,
        staged_path,
    )
    from simple_query_engine_spark.sources.catalog import table

    staged = staged_path(spark, sf_dir, ("events",), "latedrop", tag="v2")

    def _stage(tmp: str) -> None:
        ev = table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        straggler = (F.col("ts") < LATE_STRAGGLER_END) & (
            F.col("event_id") % LATE_STRAGGLER_MOD == 0
        )
        s0, s1, s2 = LATE_BATCH_SPLITS
        write_ordered_batches(
            tmp,
            [
                ev.filter((F.col("ts") < s0) & ~straggler),
                ev.filter((F.col("ts") >= s0) & (F.col("ts") < s1)),
                ev.filter((F.col("ts") >= s1) & (F.col("ts") < s2)),
                ev.filter((F.col("ts") >= s2) | straggler),
            ]
            + sentinel_batches(spark),
        )

    materialize_once(staged, _stage)
    emitted = _run_windowed_stream(
        spark,
        staged,
        daily_window_counts,
        "latedrop",
        max_files_per_trigger=1,
        output_mode="append",
    )
    # Each sentinel's own window is emitted once the NEXT sentinel pushes
    # the watermark past it — drop the harness rows, keep the real ones.
    return emitted.filter(F.col("event_type") != "sentinel")


def run_streaming_dedup_counts(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming deduplication → aggregation (two chained stateful ops).

    ``dropDuplicates`` on (user_id, event_type) holds one state entry per
    distinct key — and holds it for the query's LIFETIME: a watermark
    evicts plain-dropDuplicates state only when the event-time column is
    part of the dedup key (which here it deliberately is not — the
    computation is an exact lifetime distinct, so O(distinct keys) state
    is inherent, the same bound as any streaming distinct aggregate; the
    watermark on ``ts`` serves the downstream aggregation, not dedup
    eviction).  For at-least-once DELIVERY dedup, where state must stay
    bounded by the redelivery horizon rather than key cardinality, use
    :func:`run_streaming_dedup_within_watermark` — that is the 100 TB/day
    ingest-door shape.  The deduped stream feeds a per-type distinct-user
    count (stateful agg chained after stateful dedup — supported since
    multi-stateful-operator pipelines landed in Spark 3.5).  Only key
    columns survive the dedup, so the result is arrival-order-independent
    and the whole pipeline is oracle-checkable: on a finite replay it
    equals ``COUNT(DISTINCT user_id) GROUP BY event_type``.
    """
    stream = read_event_stream(spark, events_path, max_files_per_trigger)
    deduped = (
        stream.withWatermark("ts", WATERMARK)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    counts = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("unique_users")
    )
    return run_to_memory_sink(counts, "dedup", "dedup_counts")


DUP_PLANT_MOD = 5  # events with event_id % MOD == 0 get an identical twin


def run_streaming_dedup_within_watermark(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
    aggregate: bool = True,
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the BOUNDED-state dedup API
    (Spark 3.5+): a key's dedup state lives only until the watermark
    passes its first-seen event time + delay, then is evicted.  Unlike
    plain ``dropDuplicates`` (state per key FOREVER unless the dedup key
    includes the event-time column), this is the production shape for
    at-least-once sources (Kafka redeliveries arrive within seconds —
    holding state for the delivery horizon, not the stream's lifetime).

    With ``aggregate`` the deduped stream feeds a per-type count+cents
    rollup (two chained stateful ops) in complete mode; otherwise the
    deduped rows land append-mode (used by the eviction-semantics test:
    after a key's window passes, a re-arrival with a fresh in-watermark
    event time is emitted again — bounded state means bounded
    suppression — while a LATE re-arrival is dropped before dedup).
    """
    stream = read_event_stream(spark, events_path, max_files_per_trigger)
    deduped = stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    if aggregate:
        out = deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        mode = "complete"
    else:
        out = deduped.select("event_id", "event_type", F.col("ts").cast("long").alias("epoch"))
        mode = "append"
    return run_to_memory_sink(out, "dupwm", "dedup_within_watermark", output_mode=mode)


def run_streaming_tumbling_counts(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """True Structured Streaming run of :func:`tumbling_window_counts`."""
    return _run_windowed_stream(
        spark, events_path, tumbling_window_counts, "tumbling", max_files_per_trigger
    )


def run_streaming_sliding_counts(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """True Structured Streaming run of :func:`sliding_window_counts` —
    overlapping window state (each event lives in 2 windows)."""
    return _run_windowed_stream(spark, events_path, sliding_window_counts, "sliding")


def run_streaming_session_counts(
    spark: SparkSession, events_path: str
) -> DataFrame:
    """True Structured Streaming run of :func:`session_window_counts` —
    merging session-window state per user."""
    return _run_windowed_stream(spark, events_path, session_window_counts, "session")
