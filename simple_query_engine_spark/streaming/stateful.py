"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming, let alone custom state (SURVEY.md §2.2);
this is the extension slice's "arbitrary stateful operator" exhibit: a
per-user running profile (event count, value sum, last event time) whose
state persists across micro-batches.

Scale notes: state is keyed by user_id and partitioned by the groupBy
shuffle — state volume is O(distinct users), not O(events); the state store
checkpoints incrementally.  With a watermark-driven timeout
(``GroupStateTimeout.EventTimeTimeout``) idle users' state would be evicted;
kept ``NoTimeout`` here because the replay is finite.

(Spark 4's successor API, ``transformWithStateInPandas`` +
``StatefulProcessor``/ValueState, was evaluated but its Python driver
worker requires ``google.protobuf``, which this environment does not ship
— verified failing with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE —
so the stable ``applyInPandasWithState`` API carries the custom-state
exhibit.)
"""

from __future__ import annotations

import shutil
import uuid
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from simple_query_engine_spark.session import start_stream
from simple_query_engine_spark.streaming.explain_capture import (
    record_explain,
    run_to_memory_sink,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("event_count", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("last_epoch", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_count", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("last_epoch", T.LongType()),
    ]
)


def _update_user_profile(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Merge this batch's events into the user's running state and emit the
    updated profile.  Pure-pandas per group; Arrow moves the batches."""
    (user_id,) = key
    if state.exists:
        event_count, value_sum, last_epoch = state.get
    else:
        event_count, value_sum, last_epoch = 0, 0.0, 0
    for pdf in batches:
        event_count += len(pdf)
        value_sum += float(pdf["value"].sum())
        batch_last = int(pdf["epoch"].max()) if len(pdf) else 0
        last_epoch = max(last_epoch, batch_last)
    state.update((event_count, value_sum, last_epoch))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "event_count": [event_count],
            "value_sum": [round(value_sum, 2)],
            "last_epoch": [last_epoch],
        }
    )


TTL_SESSION_GAP_SEC = 600  # inactivity gap that closes a session = state TTL

# Pending sessions as parallel arrays — a user can legitimately hold
# SEVERAL sessions that are all still extendable by late-but-admitted
# events (the watermark is 1 h, the gap 600 s), so the state is the set
# of open intervals, not a single one.
#
# CHECKPOINT COMPATIBILITY: this schema replaced an earlier three-SCALAR
# shape (one open interval per user) in round 12.  The state store
# serializes state with the schema the query was STARTED with, so a query
# resumed from a checkpoint written under the scalar schema would misread
# or fail on the array state — there is no migration path.  Restart such
# a query from a FRESH checkpoint directory (all in-repo users already
# checkpoint to per-run temp dirs, so only an external caller pinning a
# checkpoint across versions can hit this).  Any future reshape of this
# struct carries the same break: change the checkpoint location when you
# change the schema.
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("lasts", T.ArrayType(T.LongType())),
        T.StructField("ns", T.ArrayType(T.LongType())),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _merge_session_intervals(
    intervals: list[tuple[int, int, int]],
) -> list[tuple[int, int, int]]:
    """Merge (start, last, n) gap-session intervals: sorted by start, two
    intervals belong to one session iff the next starts within the gap of
    the previous one's last event.  A single event is the interval
    (t, t, 1); a point landing INSIDE an interval's span always joins it
    (its nearest in-session neighbor is at most half a gap away), which
    the same rule covers since start − prev_last ≤ 0.  This interval
    algebra is exact for gap sessionization — it never needs the
    individual event times back."""
    out: list[tuple[int, int, int]] = []
    for s, l, n in sorted(intervals):
        if out and s - out[-1][1] <= TTL_SESSION_GAP_SEC:
            ps, pl, pn = out[-1]
            out[-1] = (ps, max(pl, l), pn + n)
        else:
            out.append((s, l, n))
    return out


def _update_ttl_sessions(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Gap-sessionize one user's events with TTL'd state and
    WATERMARK-PROOF emission: a session is emitted (and its state
    dropped) only when the watermark passes ``last + gap`` — the proof
    that no still-admissible event (ts ≥ watermark) can extend it.
    Closing on the data path alone (emit as soon as a later event
    arrives past the gap) would assume in-order arrival: the query
    admits events up to the 1 h watermark late while the gap is only
    600 s, so a late-but-admitted event can bridge or extend a session
    a naive closer already emitted — an append-mode output can never
    retract that.  Pending sessions merge through the exact interval
    algebra of :func:`_merge_session_intervals`; the EVENT-TIME TIMEOUT
    re-evaluates emission when the watermark passes the earliest
    pending ``last + gap``, so idle keys still hold no state past their
    TTL (the eviction ``transformWithState`` ships as ValueState TTL;
    expressed on ``applyInPandasWithState``'s timeout API because the
    successor API's Python runner needs google.protobuf, absent in this
    environment — see module docstring)."""
    (user_id,) = key
    pending: list[tuple[int, int, int]] = []
    if state.exists:
        starts, lasts, ns = state.get
        pending = list(zip(starts, lasts, ns))
    if not state.hasTimedOut:
        points = [
            (int(e), int(e), 1) for pdf in batches for e in pdf["epoch"]
        ]
        pending = pending + points
    merged = _merge_session_intervals(pending)
    # Floor-divide the watermark to whole seconds: a conservative bound
    # (emission can only be delayed one second, never premature).
    wm_sec = state.getCurrentWatermarkMs() // 1000
    closed = [iv for iv in merged if iv[1] + TTL_SESSION_GAP_SEC < wm_sec]
    still = [iv for iv in merged if iv[1] + TTL_SESSION_GAP_SEC >= wm_sec]
    if still:
        state.update(
            (
                [s for s, _, _ in still],
                [l for _, l, _ in still],
                [n for _, _, n in still],
            )
        )
        # Timeout = the moment the watermark proves the EARLIEST pending
        # session dead.  Clamped above the current watermark (the API
        # rejects timeouts at/behind it; the clamp only delays eviction,
        # never correctness).
        timeout_ms = max(
            (min(l for _, l, _ in still) + TTL_SESSION_GAP_SEC) * 1000 + 1,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(timeout_ms)
    elif state.exists:
        state.remove()
    yield pd.DataFrame(
        [(user_id, s, l, n) for s, l, n in closed],
        columns=["user_id", "session_start", "session_end", "n_events"],
    )


def run_ttl_session_counts(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """readStream → watermark → ``applyInPandasWithState`` with
    EventTimeTimeout → memory sink: per-user gap sessions whose state is
    TTL-evicted by the watermark.

    Over an ordered time-split replay (each file covers a later time
    range) the emitted sessions equal the batch gap-sessionization of the
    whole input — which is what the DuckDB oracle computes; the streaming
    value-add is that state for idle users is EVICTED the moment the
    watermark passes their gap, so state volume tracks ACTIVE users, not
    users-ever-seen (the unbounded-state failure at 100 TB/day).

    ``checkpoint_dir`` persists the state store across runs — the restart
    test resumes a second query from the first's checkpoint and proves an
    open session's state survives (tests/test_stateful_streaming.py).
    """
    from simple_query_engine_spark.operators.storage import scratch_dir
    from simple_query_engine_spark.streaming.windows import (
        WATERMARK,
        read_event_stream,
    )

    if checkpoint_dir is not None and output_dir is None:
        # A memory sink does NOT replay batches committed by an earlier
        # run of the same checkpoint — a resumed query would silently
        # return only post-restart sessions.  Restart recovery requires
        # the replayable parquet sink.
        raise ValueError(
            "checkpoint_dir without output_dir would resume into a fresh "
            "memory sink and silently drop pre-restart sessions; pass "
            "output_dir (parquet sink) for restartable runs"
        )

    stream = read_event_stream(spark, events_path, max_files_per_trigger)
    events = (
        stream.withWatermark("ts", WATERMARK)
        .select("user_id", "ts", F.col("ts").cast("long").alias("epoch"))
    )
    # APPEND semantics: a session row is emitted exactly once, when it
    # closes — so the op composes with append-only sinks, and a
    # parquet sink + checkpoint supports RESTART RECOVERY (memory
    # sinks do not), which the restart test exercises.
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _update_ttl_sessions,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    sink_name = f"ttlsess_{uuid.uuid4().hex[:8]}"
    checkpoint = checkpoint_dir or scratch_dir(spark, "ckpt_ttlsess_")
    if output_dir is not None:
        writer = sessions.writeStream.format("parquet").option("path", output_dir)
    else:
        writer = sessions.writeStream.format("memory").queryName(sink_name)
    query = start_stream(
        spark,
        writer.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True),
    )
    query.awaitTermination()
    record_explain(query, "ttl_sessions")
    if checkpoint_dir is None:
        # Throwaway per-run checkpoint (nothing can resume it — the
        # location was never handed out); reap like run_to_memory_sink.
        shutil.rmtree(checkpoint, ignore_errors=True)
    if output_dir is not None:
        return spark.read.schema(SESSION_OUTPUT_SCHEMA).parquet(output_dir)
    return spark.table(sink_name)


def run_stateful_user_profiles(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream → groupBy(user_id) → applyInPandasWithState → memory sink.

    On a single-batch replay the final profile equals the batch aggregation
    (count/sum/max per user) — which is what the DuckDB oracle checks; a
    multi-batch replay (tests) additionally proves state carries across
    batches (update-mode emits one row per user per touching batch; the
    LAST row per user is the final profile).
    """
    from simple_query_engine_spark.streaming.windows import read_event_stream

    stream = read_event_stream(spark, events_path, max_files_per_trigger)
    events = stream.select(
        "user_id", "value", F.col("ts").cast("long").alias("epoch")
    )
    profiles = events.groupBy("user_id").applyInPandasWithState(
        _update_user_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory_sink(profiles, "profiles", "stateful_profiles", output_mode="update")
