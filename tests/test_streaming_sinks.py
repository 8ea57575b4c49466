"""foreachBatch parquet sink: on-disk result equals the batch aggregation,
partitioned layout is per-window."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from simple_query_engine_spark.streaming.sinks import run_streaming_to_parquet
from simple_query_engine_spark.operators.streaming_ops import q_batch_tumbling


def test_foreachbatch_parquet_matches_batch(spark, sf_dir, tmp_path):
    out = str(tmp_path / "rollup")
    on_disk = run_streaming_to_parquet(spark, f"{sf_dir}/events.parquet", out)
    got = {
        (r.window_start, r.event_type): (r.event_count, r.value_sum)
        for r in on_disk.collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.event_count, r.value_sum)
        for r in q_batch_tumbling(spark, sf_dir).collect()
    }
    assert got == expected
    # Hive-partitioned by window start → partition pruning on re-read.
    partitions = [d for d in os.listdir(out) if d.startswith("window_start=")]
    assert len(partitions) > 10
    one_start = int(partitions[0].split("=")[1])
    pruned = spark.read.parquet(out).filter(F.col("window_start") == one_start)
    assert pruned.count() == sum(1 for (ws, _t) in expected if ws == one_start)


def test_file_sink_exactly_once_across_midflight_kill(spark, sf_dir, tmp_path):
    """Native parquet sink + checkpoint: stop() the query mid-run (1-file
    triggers), restart with the same checkpoint/sink, and the committed
    output equals the input exactly once — no loss, no re-emission,
    wherever the kill landed between batch commits."""
    import time

    from simple_query_engine_spark.sources.catalog import table
    from simple_query_engine_spark.streaming.sinks import run_resumable_file_sink

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "user_id"
    )
    events.repartition(8).write.parquet(src)

    query = run_resumable_file_sink(
        spark, src, out, ckpt, max_files_per_trigger=1, await_termination=False
    )
    deadline = time.time() + 60
    while not query.recentProgress and time.time() < deadline:
        time.sleep(0.1)
    query.stop()  # kill between batch commits
    query.awaitTermination()

    run_resumable_file_sink(spark, src, out, ckpt)  # restart, drain the rest
    final = spark.read.parquet(out)
    n = events.count()
    assert final.count() == n
    assert final.select("event_id").distinct().count() == n


def test_managed_upsert_replay_is_noop(spark, sf_dir, tmp_path):
    """Exactly-once contract: replaying an already-committed batch id
    through the foreachBatch handler must not touch the table, and the
    txn map must survive a vacuum of the expired manifests."""
    from simple_query_engine_spark.sources.catalog import table as cat_table
    from simple_query_engine_spark.sources.managed import ManagedTable
    from simple_query_engine_spark.streaming.sinks import (
        UPSERT_APP,
        upsert_users_batch,
    )

    events = cat_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    path = str(tmp_path / "t")
    upsert_users_batch(spark, path, events, 0)
    t = ManagedTable(spark, path)
    version_after = t.current_version()
    before = sorted(map(tuple, t.read().collect()))
    assert t.last_txn(UPSERT_APP) == 0

    # Replays of batch 0 (and of any lower id) are no-ops.
    upsert_users_batch(spark, path, events, 0)
    assert t.current_version() == version_after
    assert sorted(map(tuple, t.read().collect())) == before

    # A NEW batch applies additively...
    upsert_users_batch(spark, path, events, 1)
    doubled = {r.user_id: r.n_events for r in t.read().collect()}
    assert doubled == {u: 2 * n for (u, n, _) in before}
    # ...and the txn history survives vacuuming the expired manifests.
    t.vacuum(retain_versions=1)
    assert t.last_txn(UPSERT_APP) == 1
    upsert_users_batch(spark, path, events, 1)  # still a no-op post-vacuum
    assert {r.user_id: r.n_events for r in t.read().collect()} == doubled


def test_managed_upsert_stream_matches_batch(spark, sf_dir, tmp_path):
    """The 4-micro-batch streaming merge composes to the batch rollup."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.streaming_ops import (
        q_stream_upsert_managed,
    )
    from simple_query_engine_spark.sources.catalog import table as cat_table

    got = sorted(map(tuple, q_stream_upsert_managed(spark, sf_dir).collect()))
    expected = sorted(
        map(
            tuple,
            cat_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("ts").alias("last_ts"),
            )
            .collect(),
        )
    )
    assert got == expected


def _crash_mid_stream_upsert(src, table_path, ckpt, crash_bid):
    """Spawned child: run the streaming upsert with a crash injected at
    the NASTIEST point — after the manifest commit of ``crash_bid`` but
    before foreachBatch returns (so the checkpoint never acks the batch).
    Hard-exit: no finally, no JVM shutdown hooks."""
    import os as _os

    from simple_query_engine_spark.session import get_spark
    from simple_query_engine_spark.streaming import sinks

    spark = get_spark(app_name="sqe-upsert-crash-child", master="local[4]")
    orig = sinks.upsert_users_batch

    def crashing(spark_, path, df, bid):
        orig(spark_, path, df, bid)
        if bid == crash_bid:
            _os._exit(77)

    # run_streaming_upsert_managed's foreachBatch lambda resolves the
    # module global at call time, so the injection takes effect.
    sinks.upsert_users_batch = crashing
    sinks.run_streaming_upsert_managed(
        spark, src, table_path, ckpt, max_files_per_trigger=1
    )
    _os._exit(1)  # unreachable: the stream must hit crash_bid first


def test_managed_upsert_crash_midcommit_restart_converges(spark, sf_dir, tmp_path):
    """VERDICT r13 item 6: kill the foreachBatch writer BETWEEN the
    managed-table commit and the checkpoint ack (the double-apply
    window), restart from the same checkpoint, and assert the table
    converges to exactly the batch rollup — the txn map must turn the
    replayed batch into a no-op while the checkpoint drains the rest."""
    import multiprocessing

    from pyspark.sql import functions as F

    from simple_query_engine_spark.sources.catalog import table as cat_table
    from simple_query_engine_spark.sources.managed import ManagedTable
    from simple_query_engine_spark.streaming.sinks import (
        UPSERT_APP,
        run_streaming_upsert_managed,
    )

    events = cat_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    ctx = multiprocessing.get_context("spawn")  # fresh interpreter + JVM
    child = ctx.Process(
        target=_crash_mid_stream_upsert, args=(src, table_path, ckpt, 1)
    )
    child.start()
    child.join(timeout=300)
    assert child.exitcode == 77  # died exactly at the injected point

    # The crash landed post-commit: batch 1 IS in the table (txn map says
    # so) but the checkpoint never acked it — the restart will replay it.
    t = ManagedTable(spark, table_path)
    assert t.last_txn(UPSERT_APP) == 1

    run_streaming_upsert_managed(spark, src, table_path, ckpt)
    got = {
        r.user_id: (r.n_events, r.last_ts) for r in t.read().collect()
    }
    expected = {
        r.user_id: (r.n_events, r.last_ts)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
        .collect()
    }
    assert got == expected  # no double-counts (replay no-op), no loss


def test_ivf_ingest_matches_batch_append_with_commit_per_batch(spark, sf_dir):
    """VERDICT r15 item 5: the streaming IVF ingest door — 4 micro-batches
    txn-append into the managed posting-list table (v0 = base index, one
    insert commit per batch), and the final search equals the batch
    append entry exactly.  Replay of an already-committed batch id is a
    no-op (exactly-once); a genuinely new batch id appends."""
    from simple_query_engine_spark.operators import streaming_ops as S
    from simple_query_engine_spark.operators.similarity import (
        IVF_BATCH_MOD,
        IVF_BATCH_REM,
        _kmeans_trained,
        q_sim_ivf_append_topk,
    )
    from simple_query_engine_spark.sources.catalog import table
    from simple_query_engine_spark.sources.managed import ManagedTable

    got = {tuple(r) for r in S.q_stream_ivf_ingest(spark, sf_dir).collect()}
    want = {tuple(r) for r in q_sim_ivf_append_topk(spark, sf_dir).collect()}
    assert got == want

    t = ManagedTable(spark, S.run_ivf_ingest.last_table_path)
    versions = t.versions()
    assert len(versions) == 1 + 4, versions  # v0 base + one commit per batch
    last = t.last_txn(S.IVF_INGEST_APP)
    assert last == 3  # batch ids 0..3

    # Replay an already-committed batch id: version count and rows are
    # untouched (the txn skip).  A new batch id appends exactly its rows.
    is_batch = F.col("vec_id") % IVF_BATCH_MOD == F.lit(IVF_BATCH_REM)
    _, cent = _kmeans_trained(
        spark, sf_dir, base_filter=~is_batch, key_prefix="kmeans_app"
    )
    batch_df = (
        table(spark, sf_dir, "embeddings")
        .filter(is_batch)
        .select("vec_id", "embedding")
        .limit(5)
    )
    v, n = t.current_version(), t.read().count()
    S.ingest_ivf_batch(spark, S.run_ivf_ingest.last_table_path, cent, batch_df, last)
    assert t.current_version() == v and t.read().count() == n
    S.ingest_ivf_batch(
        spark, S.run_ivf_ingest.last_table_path, cent, batch_df, last + 1
    )
    assert t.current_version() == v + 1 and t.read().count() == n + 5


def test_components_ingest_matches_batch_incremental_with_commit_per_batch(
    spark, sf_dir
):
    """r17: the streaming cluster-maintenance door — 3 micro-batches MERGE
    into the managed label table (v0 = corpus-only standing labels, one
    commit per batch), and the drained cluster report equals the batch
    incremental entry exactly (which the oracle certifies equals the full
    recompute).  Replay of an already-committed batch id is a no-op
    (exactly-once); a genuinely new batch id applies its merge."""
    from simple_query_engine_spark.operators import streaming_ops as S
    from simple_query_engine_spark.operators.dedup import (
        PLANT_DOC_OFFSET,
        _planted_documents,
        q_graph_components_incremental,
    )
    from simple_query_engine_spark.sources.managed import ManagedTable

    # Every per-batch merge runs the duplicate-key check, so the handler's
    # source uniqueness (upd ⊂ standing ids, new_rows anti-joined then
    # distinct) is machine-checked end-to-end by this run.
    got = {
        tuple(r) for r in S.q_stream_components_incremental(spark, sf_dir).collect()
    }
    want = {
        tuple(r) for r in q_graph_components_incremental(spark, sf_dir).collect()
    }
    assert got == want

    t = ManagedTable(spark, S.run_components_ingest.last_table_path)
    versions = t.versions()
    assert len(versions) == 1 + 3, versions  # v0 standing + one merge per batch
    last = t.last_txn(S.CC_INGEST_APP)
    assert last == 2  # batch ids 0..2

    # Replay an already-committed batch id: version count and label state
    # untouched (the txn skip).  A new batch id with already-ingested docs
    # commits but changes no label (their pairs are already in the state).
    batch_df = (
        _planted_documents(spark, sf_dir)
        .filter(F.col("doc_id") >= PLANT_DOC_OFFSET)
        .limit(5)
    )
    v = t.current_version()
    rows = {tuple(r) for r in t.read().collect()}
    S.ingest_components_batch(
        spark, S.run_components_ingest.last_table_path, sf_dir, batch_df, last
    )
    assert t.current_version() == v
    assert {tuple(r) for r in t.read().collect()} == rows
    S.ingest_components_batch(
        spark, S.run_components_ingest.last_table_path, sf_dir, batch_df, last + 1
    )
    assert t.current_version() == v + 1  # one commit, even when no-change
    assert {tuple(r) for r in t.read().collect()} == rows  # labels unchanged


def test_foreachbatch_overwrite_is_dynamic_without_session_conf(
    spark, sf_dir, tmp_path
):
    """The upsert overwrites only the windows a batch carries: a partition
    it does not carry survives (a static overwrite would delete it), and
    the session's partitionOverwriteMode is left alone."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    out = str(tmp_path / "rollup")
    spark.createDataFrame(
        [("planted", 1, 1.0, -1)],
        "event_type string, event_count long, value_sum double, batch_id int",
    ).write.parquet(os.path.join(out, "window_start=0"))

    on_disk = run_streaming_to_parquet(spark, f"{sf_dir}/events.parquet", out)

    assert os.path.isdir(os.path.join(out, "window_start=0"))
    rows = on_disk.collect()
    assert [r.event_type for r in rows if r.window_start == 0] == ["planted"]
    got = {
        (r.window_start, r.event_type): (r.event_count, r.value_sum)
        for r in rows
        if r.window_start != 0
    }
    expected = {
        (r.window_start, r.event_type): (r.event_count, r.value_sum)
        for r in q_batch_tumbling(spark, sf_dir).collect()
    }
    assert got == expected
    assert spark.conf.get(key) == before
