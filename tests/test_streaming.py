"""Streaming tests: streaming == batch on static input, session algebra,
and real late-data drop under a watermark (multi-batch file replay)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simple_query_engine_spark.operators import streaming_ops as SO
from simple_query_engine_spark.streaming.windows import (
    TUMBLE,
    tumbling_window_counts,
)


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_streaming_equals_batch_on_static_input(spark, sf_dir):
    streaming = rows_set(SO.q_stream_tumbling(spark, sf_dir))
    batch = rows_set(SO.q_batch_tumbling(spark, sf_dir))
    assert streaming == batch


def test_sliding_doubles_tumbling_mass(spark, sf_dir):
    total_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    sliding_mass = sum(
        r.event_count for r in SO.q_window_sliding(spark, sf_dir).collect()
    )
    assert sliding_mass == 2 * total_events  # 1h window / 30m slide → 2 windows each


def test_sessions_partition_all_events(spark, sf_dir):
    total_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    session_mass = sum(
        r.event_count for r in SO.q_window_session(spark, sf_dir).collect()
    )
    assert session_mass == total_events


def test_stream_stream_join_equals_batch_interval_join(spark, sf_dir, tables):
    from simple_query_engine_spark.streaming.windows import run_stream_stream_join

    streamed = {
        tuple(r)
        for r in run_stream_stream_join(spark, f"{sf_dir}/events.parquet").collect()
    }
    events = tables["events"]
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    batch = {
        tuple(r)
        for r in clicks.join(purchases, "user_id")
        .filter(
            (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            F.col("cts").cast("long").alias("click_epoch"),
            F.col("pts").cast("long").alias("purchase_epoch"),
        )
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_streaming_sliding_and_session_equal_batch(spark, sf_dir):
    assert rows_set(SO.q_stream_sliding(spark, sf_dir)) == rows_set(
        SO.q_window_sliding(spark, sf_dir)
    )
    assert rows_set(SO.q_stream_session(spark, sf_dir)) == rows_set(
        SO.q_window_session(spark, sf_dir)
    )


def test_session_state_merges_across_batches(spark, tmp_path):
    """A session spanning two micro-batches must merge into ONE window:
    batch 1 ends a user's activity at 10:08, batch 2 resumes at 10:12
    (inside the 10-minute gap) — the session-window state merge extends
    the existing session instead of opening a new one."""
    import glob

    import datetime as dt

    from simple_query_engine_spark.streaming.windows import session_window_counts

    input_dir = str(tmp_path / "sess_in")
    os.makedirs(input_dir)
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes: float):
        return t0 + dt.timedelta(minutes=minutes)

    batches = [
        ("b1", [(at(0), 7, "click", 1.0), (at(8), 7, "click", 1.0)]),
        # resumes within the gap (12 − 8 = 4 min < 10) → same session;
        # a second user far away starts their own session.
        ("b2", [(at(12), 7, "click", 1.0), (at(60), 8, "view", 1.0)]),
    ]
    for i, (name, rows) in enumerate(batches):
        df = spark.createDataFrame(
            rows, "ts timestamp, user_id long, event_type string, value double"
        )
        df.coalesce(1).write.parquet(f"{input_dir}/{name}")
        for part in glob.glob(f"{input_dir}/{name}/*.parquet"):
            os.utime(part, (1_000_000 * (i + 1),) * 2)

    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{input_dir}/*")
    )
    windowed = session_window_counts(stream.withWatermark("ts", "1 hour"))
    sink = "session_merge_test"
    query = (
        windowed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    sessions = {
        (r.user_id, r.session_start): r.event_count
        for r in spark.table(sink).collect()
    }
    # User 7: one merged 3-event session starting at 10:00 — NOT two.
    assert sessions == {
        (7, int(t0.timestamp())): 3,
        (8, int(at(60).timestamp())): 1,
    }


def test_streaming_dedup_spans_micro_batches(spark, tmp_path):
    """A key first seen in batch 1 and repeated in batch 2 must still
    dedup to one row — the dropDuplicates state survives across
    micro-batches (and is watermark-bounded, not unbounded)."""
    import glob

    import datetime as dt

    input_dir = str(tmp_path / "dedup_in")
    os.makedirs(input_dir)
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes: float):
        return t0 + dt.timedelta(minutes=minutes)

    batches = [
        # user 7 clicks twice within batch 1 (intra-batch dup)...
        ("b1", [(at(0), 7, "click", 1.0), (at(1), 7, "click", 1.0)]),
        # ...and again in batch 2 (cross-batch dup); user 8 is new.
        ("b2", [(at(5), 7, "click", 1.0), (at(6), 8, "click", 1.0)]),
    ]
    for i, (name, rows) in enumerate(batches):
        df = spark.createDataFrame(
            rows, "ts timestamp, user_id long, event_type string, value double"
        )
        df.coalesce(1).write.parquet(f"{input_dir}/{name}")
        for part in glob.glob(f"{input_dir}/{name}/*.parquet"):
            os.utime(part, (1_000_000 * (i + 1),) * 2)

    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{input_dir}/*")
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    counts = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("unique_users"))
    sink = "dedup_batches_test"
    query = (
        counts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {r.event_type: r.unique_users for r in spark.table(sink).collect()}
    assert got == {"click": 2}  # users 7 and 8 once each, all dups dropped


def test_watermark_drops_late_data(spark, tmp_path):
    """Three micro-batches: the watermark passes window [10:00,11:00) after
    batch 1, the window's state is evicted and emitted at the end of batch 2,
    and a 3-hours-late event arriving in batch 3 must be dropped (watermark
    is a lower-bound guarantee: a late row in the batch *immediately* after
    the advance can still merge, so the drop is only observable one batch
    later — verified empirically against Spark 4.1)."""
    import glob

    input_dir = str(tmp_path / "events_in")
    os.makedirs(input_dir)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(hours: float):
        return t0 + dt.timedelta(hours=hours)

    batches = [
        # Batch 1: on-time; max ts 12:30 → watermark becomes 11:30.
        ("b1", [(at(0.1), "click", 1.0), (at(0.5), "click", 1.0), (at(2.5), "view", 1.0)]),
        # Batch 2: runs under watermark 11:30 → [10:00,11:00) evicted+emitted.
        ("b2", [(at(2.6), "view", 1.0)]),
        # Batch 3: a late event into the already-closed window → dropped.
        ("b3", [(at(0.2), "click", 99.0), (at(2.7), "view", 1.0)]),
    ]
    for i, (name, rows) in enumerate(batches):
        df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
        df.coalesce(1).write.parquet(f"{input_dir}/{name}")
        for part in glob.glob(f"{input_dir}/{name}/*.parquet"):
            os.utime(part, (1_000_000 * (i + 1),) * 2)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{input_dir}/*")
    )
    windowed = tumbling_window_counts(stream.withWatermark("ts", "1 hour"))
    sink = "late_data_test"
    query = (
        windowed.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    emitted = {
        (r.window_start, r.event_type): (r.event_count, r.value_sum)
        for r in spark.table(sink).collect()
    }
    ten_am = int(t0.timestamp())
    assert (ten_am, "click") in emitted
    count, value_sum = emitted[(ten_am, "click")]
    # Only the two on-time events; the late value=99 event was dropped.
    assert count == 2
    assert value_sum == 2.0


def test_late_drop_accounting_drops_exactly_the_stragglers(spark, sf_dir):
    """The certified late-drop replay must drop EXACTLY the planted
    straggler slice: streaming totals = batch totals − |stragglers|,
    and the straggler set is non-empty (otherwise the exhibit is
    vacuous)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.streaming_ops import (
        q_stream_watermark_late_drop,
    )
    from simple_query_engine_spark.sources.catalog import table
    from simple_query_engine_spark.streaming.windows import (
        LATE_STRAGGLER_END,
        LATE_STRAGGLER_MOD,
    )

    events = table(spark, sf_dir, "events")
    straggler = (F.col("ts") < LATE_STRAGGLER_END) & (
        F.col("event_id") % LATE_STRAGGLER_MOD == 0
    )
    n_stragglers = events.filter(straggler).count()
    assert n_stragglers > 0
    n_total = events.count()
    emitted = q_stream_watermark_late_drop(spark, sf_dir).agg(
        F.sum("event_count").alias("n")
    ).collect()[0].n
    assert emitted == n_total - n_stragglers


def test_dedup_within_watermark_state_is_evicted(spark, tmp_path):
    """dropDuplicatesWithinWatermark holds a key's state only until the
    watermark passes its window: a twin arriving IN-window is suppressed;
    after eviction the key dedups afresh — the same event_id with a new
    in-watermark event time is emitted again (bounded state ⇒ bounded
    suppression), while a late re-arrival (event time behind the
    watermark) is dropped outright before dedup.  Both semantics pinned
    here; they are why the catalog entry plants its twins in-batch."""
    import datetime as dt
    import glob

    from simple_query_engine_spark.streaming.windows import (
        run_streaming_dedup_within_watermark,
    )

    input_dir = str(tmp_path / "ev")
    os.makedirs(input_dir)

    def add_batch(name, order, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        ).coalesce(1).write.parquet(f"{input_dir}/{name}")
        for part in glob.glob(f"{input_dir}/{name}/*.parquet"):
            os.utime(part, (1_000_000 * order,) * 2)

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    # b1: event 1 and its in-window twin (same batch) — suppressed once.
    add_batch("b1", 1, [(1, t0, "click", 1.0), (1, t0, "click", 1.0)])
    # b2+b3: two watermark movers 3 h later — TWO batches because the
    # effective watermark lags the data by up to one batch (see
    # test_watermark_drops_late_data); after b3 the watermark is
    # provably t0+2h, past key 1's t0+1h dedup window.
    add_batch("b2", 2, [(99, t0 + dt.timedelta(hours=3), "mover", 0.0)])
    add_batch("b3", 3, [(98, t0 + dt.timedelta(hours=3, minutes=1), "mover", 0.0)])
    # b4: key 1 re-arrives after eviction — one LATE copy (ts = t0,
    # behind the watermark: dropped before dedup) and one fresh copy
    # (ts inside the watermark: state was evicted, so emitted again).
    add_batch(
        "b4",
        4,
        [
            (1, t0, "click", 1.0),
            (1, t0 + dt.timedelta(hours=2, minutes=30), "click", 1.0),
        ],
    )

    out = run_streaming_dedup_within_watermark(
        spark, f"{input_dir}/*", max_files_per_trigger=1, aggregate=False
    )
    ones = sorted(
        r.epoch for r in out.filter(F.col("event_id") == 1).collect()
    )
    # Emitted in b1 (first copy; in-window twin suppressed) and once
    # more in b4 (fresh-ts copy after eviction; late copy dropped).
    assert ones == [
        int(t0.timestamp()),
        int((t0 + dt.timedelta(hours=2, minutes=30)).timestamp()),
    ], ones

def test_vector_ingest_multi_batch_equals_batch_rollup(spark, sf_dir, tmp_path):
    """The streaming ingest report over a 3-file replay (one micro-batch
    per file) must equal the batch assignment rollup — posting-list
    growth is correct however the corpus is sliced into batches.  The
    quantizer trains from the canonical sf_dir so the session caches stay
    tagged to the real dir."""
    from simple_query_engine_spark.operators import similarity as S

    staged = str(tmp_path / "emb_multi")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(3).write.parquet(
        staged
    )

    got = rows_set(
        SO.run_vector_ingest(spark, sf_dir, stream_path=staged, max_files_per_trigger=1)
    )

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    batch = rows_set(
        S._kmeans_assign(vectors, cent)
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_ingested"),
            F.sum("d").alias("inertia"),
            F.max("vec_id").alias("last_vec_id"),
        )
    )
    assert got == batch
    assert len(got) <= S.KMEANS_K and len(got) > 0


def test_bm25_postings_multi_batch_equals_batch(spark, sf_dir, tmp_path):
    """The streaming postings report over a 3-file replay (one micro-batch
    per file) must equal the batch rollup — the inverted index grows
    correctly however the corpus is sliced into micro-batches."""
    import re
    from collections import Counter

    from simple_query_engine_spark.operators.text import BM25_QUERIES

    staged = str(tmp_path / "docs_multi")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(3).write.parquet(
        staged
    )
    got = rows_set(
        SO.run_bm25_postings(spark, sf_dir, stream_path=staged, max_files_per_trigger=1)
    )
    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    stats = {t: [0, 0, 0] for t in terms}  # df, total_tf, max_tf
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        c = Counter(re.sub(r"\s+", " ", r.text.lower()).strip().split(" "))
        for t in terms:
            tf = c.get(t, 0)
            if tf:
                stats[t][0] += 1
                stats[t][1] += tf
                stats[t][2] = max(stats[t][2], tf)
    expected = {
        (t, df, tot, mx) for t, (df, tot, mx) in stats.items() if df > 0
    }
    assert got == expected

def test_mixture_ingest_multi_batch_equals_batch_gate(spark, sf_dir, tmp_path):
    """The streaming mixture-gate report over a 3-file replay (one
    micro-batch per file) must equal the batch gate applied to the whole
    corpus — the policy table comes from the static snapshot, so slicing
    the stream differently can never change who passes."""
    import hashlib
    import re

    from simple_query_engine_spark.operators.pipeline import MIXTURE_GATE_MOD

    staged = str(tmp_path / "docs_mix")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(3).write.parquet(
        staged
    )
    got = rows_set(
        SO.run_mixture_ingest(spark, sf_dir, stream_path=staged, max_files_per_trigger=1)
    )
    per_source: dict[str, list] = {}
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        n = len(re.sub(r"\s+", " ", r.text.lower()).strip().split(" "))
        gate = (
            int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
            % MIXTURE_GATE_MOD
        )
        per_source.setdefault(r.source, []).append((n, gate))
    corpus = sum(n for lst in per_source.values() for n, _ in lst)
    n_sources = len(per_source)
    expected = set()
    for s, lst in per_source.items():
        total = sum(n for n, _ in lst)
        accept = min(
            MIXTURE_GATE_MOD, (corpus * MIXTURE_GATE_MOD) // (n_sources * total)
        )
        kept = [(n, g) for n, g in lst if g < accept]
        expected.add(
            (s, len(lst), accept, len(kept), sum(n for n, _ in kept))
        )
    assert got == expected


def test_stream_decontamination_multi_batch_equals_single_shot(
    spark, sf_dir, tmp_path
):
    """The streaming fuzzy gate over a 3-file replay (one micro-batch per
    file) must equal the single-shot run: band candidates and the verify
    filter are stateless, the pair state is a groupBy (batch-split-
    invariant), so however the corpus slices into micro-batches the leak
    report is identical.  Every eval doc must be flagged (its in-stream
    planted paraphrase copy guarantees a >= threshold match)."""
    from simple_query_engine_spark.operators.pipeline import EVAL_SET_MAX_DOC_ID

    staged = str(tmp_path / "docs_decontam")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(3).write.parquet(
        staged
    )
    replay = rows_set(
        SO.run_stream_decontamination(
            spark, sf_dir, stream_path=staged, max_files_per_trigger=1
        )
    )
    single = rows_set(SO.run_stream_decontamination(spark, sf_dir))
    assert replay == single
    flagged_evals = {r[0] for r in replay}
    eval_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(f"doc_id < {EVAL_SET_MAX_DOC_ID}")
        .collect()
    }
    assert flagged_evals == eval_ids, "every eval doc's planted leak must fire"
    assert all(r[1] >= 1 for r in replay)


def test_clip_ingest_multi_batch_equals_batch_manifest(spark, sf_dir, tmp_path):
    """The streaming pair manifest over a 3-file replay (one micro-batch
    per file) must equal the batch construction: min-doc_id keepers are
    deterministic however the corpus slices into micro-batches (the
    reason the state is a groupBy-min, not first-arrival
    dropDuplicates), copy counts accumulate across batches, and the
    read-time split stamp matches the md5 rule."""
    import hashlib

    from simple_query_engine_spark.operators.curation import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )
    from simple_query_engine_spark.operators.multimodal import CLIP_MIN_BYTES

    staged = str(tmp_path / "docs_clip")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(3).write.parquet(
        staged
    )
    got = rows_set(
        SO.run_clip_ingest(spark, sf_dir, stream_path=staged, max_files_per_trigger=1)
    )
    vec_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    groups: dict[str, list] = {}
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        b = r.text.encode()
        if len(b) < CLIP_MIN_BYTES:
            continue
        groups.setdefault(hashlib.md5(b).hexdigest(), []).append((r.doc_id, len(b)))
    expected = set()
    for digest, members in groups.items():
        doc_id = min(d for d, _ in members)
        if doc_id not in vec_ids:
            continue
        bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100
        split = (
            "train"
            if bucket < SPLIT_TRAIN_PCT
            else ("val" if bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT else "test")
        )
        expected.add((doc_id, digest, len(members), members[0][1], split))
    assert got == expected
    assert got


def test_run_to_memory_sink_reaps_its_checkpoint(spark, tmp_path):
    """The shared memory-sink runner must leave NO checkpoint litter:
    availableNow memory-sink queries are never resumed (fresh uuid sink
    per run), so the required-but-throwaway checkpoint dir is reaped
    after termination."""
    import os

    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.storage import SCRATCH_CONF
    from simple_query_engine_spark.streaming.explain_capture import (
        LAST_EXPLAINS,
        run_to_memory_sink,
    )

    src = str(tmp_path / "in")
    spark.range(10).selectExpr("id", "id % 3 AS k").write.parquet(src)
    stream = spark.readStream.schema("id long, k long").parquet(src)
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))

    root = tmp_path / "root"
    spark.conf.set(SCRATCH_CONF, str(root))
    try:
        out = run_to_memory_sink(agg, "reaptest", "reaptest_label")
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert {tuple(r) for r in out.collect()} == {(0, 4), (1, 3), (2, 3)}
    assert os.listdir(root) == []  # checkpoint made under the root, then reaped
    assert "reaptest_label" in LAST_EXPLAINS  # plan capture is structural


def test_start_stream_sizes_state_to_cores_and_restores_the_session(
    spark, sf_dir, tmp_path
):
    """start_stream gives a stateful query one state partition per core
    and leaves the shared session's shuffle.partitions as it found it,
    also when ``start()`` raises."""
    from simple_query_engine_spark.session import start_stream
    from simple_query_engine_spark.streaming.windows import (
        WATERMARK,
        read_event_stream,
    )

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(key)
    assert int(before) != cores  # else the test could not tell them apart

    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    counts = tumbling_window_counts(stream.withWatermark("ts", WATERMARK))
    query = start_stream(
        spark,
        counts.writeStream.format("memory")
        .queryName("start_stream_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True),
    )
    query.awaitTermination()
    assert query.lastProgress["stateOperators"][0]["numShufflePartitions"] == cores
    assert spark.conf.get(key) == before

    seen = []

    class FailingWriter:
        def start(self):
            seen.append(spark.conf.get(key))
            raise RuntimeError("start failed")

    with pytest.raises(RuntimeError):
        start_stream(spark, FailingWriter())
    assert seen == [str(cores)]
    assert spark.conf.get(key) == before


@pytest.mark.parametrize(
    "entry",
    [
        "stream_tumbling_counts",
        "stream_sliding_counts",
        "stream_session_counts",
        "stream_dedup_user_counts",
        "stream_stateful_profiles",
        "stream_ttl_sessions",
        "stream_stream_join",
    ],
)
def test_stateful_runners_start_through_start_stream(spark, sf_dir, entry, monkeypatch):
    """Every stateful runner starts its query through session.start_stream,
    so its state operators run one partition per core."""
    from simple_query_engine_spark import session
    from simple_query_engine_spark.streaming import explain_capture, stateful

    queries = []

    def counting(spark_, writer):
        queries.append(session.start_stream(spark_, writer))
        return queries[-1]

    monkeypatch.setattr(explain_capture, "start_stream", counting)
    monkeypatch.setattr(stateful, "start_stream", counting)
    SO.QUERIES[entry](spark, sf_dir).collect()
    assert len(queries) == 1
    operators = queries[0].lastProgress["stateOperators"]
    assert operators
    cores = spark.sparkContext.defaultParallelism
    assert {op["numShufflePartitions"] for op in operators} == {cores}
