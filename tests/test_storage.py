"""Partition-pruning exhibit: the scan over the date-partitioned events
copy must prune at the directory level (PartitionFilters), not merely push
the predicate into row groups (PushedFilters)."""

from __future__ import annotations

import contextlib
import io

from simple_query_engine_spark.operators.storage import (
    partitioned_events,
    q_events_partition_prune,
)


def plan_of(df) -> str:
    buffer = io.StringIO()
    with contextlib.redirect_stdout(buffer):
        df.explain("formatted")
    return buffer.getvalue()


def test_scan_has_partition_filters(spark, sf_dir):
    plan = plan_of(q_events_partition_prune(spark, sf_dir))
    partition_filter_lines = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert partition_filter_lines, plan
    line = partition_filter_lines[0]
    assert "event_date" in line and "isnotnull" in line, line
    # The predicate prunes directories, so it must NOT appear as a row-level
    # pushed filter (the scan may have no PushedFilters line at all — the
    # partition predicate was consumed entirely at planning time).
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert all("event_date" not in l for l in pushed), pushed


def scanned_file_count(df) -> int:
    """The FileSourceScan's post-execution numFiles metric — the number of
    files the scan actually opened (inputFiles() would report the whole
    relation's listing, pre-pruning)."""
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    return int(scan.metrics().apply("numFiles").value())


def test_pruned_scan_reads_fewer_files(spark, sf_dir):
    full = partitioned_events(spark, sf_dir)
    from pyspark.sql import functions as F

    assert len(full.inputFiles()) >= 30  # one directory per event day
    pruned = full.filter(F.col("event_date") == "2024-01-08")
    assert scanned_file_count(pruned) == 1


def test_dpp_scan_has_dynamic_pruning_expression(spark, sf_dir):
    """join_dpp_partitioned must prune the fact's partitions at RUNTIME:
    the partition filter is a dynamicpruningexpression fed by the
    broadcast dim subquery, not a static literal — and the dim's
    week_label predicate can never reach the fact scan statically."""
    from simple_query_engine_spark.operators.storage import (
        q_join_dpp_partitioned,
    )

    plan = plan_of(q_join_dpp_partitioned(spark, sf_dir))
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert lines, plan
    assert any("dynamicpruning" in l.lower() for l in lines), lines
    # The runtime-pruned scan must still be the partitioned layout (the
    # pruning key is the partition column).
    assert any("event_date" in l for l in lines), lines


def test_partitioned_copy_is_lossless(spark, sf_dir):
    from simple_query_engine_spark.sources.catalog import table

    original = table(spark, sf_dir, "events")
    copy = partitioned_events(spark, sf_dir)
    assert copy.count() == original.count()
    assert copy.selectExpr("sum(event_id)").collect()[0][0] == (
        original.selectExpr("sum(event_id)").collect()[0][0]
    )


def test_zorder_layout_skips_more_files_than_linear(spark, sf_dir, tmp_path):
    """Measured data-skipping evidence: write the SAME rows as (a) a
    z-sorted 16-file layout and (b) a custkey-sorted (one-dimensional)
    16-file layout, then evaluate a 2-D box predicate (middle-quarter
    customer range × middle-quarter date range) against per-file min/max
    stats — exactly what parquet-footer / Delta / Iceberg data skipping
    does.  The z-order layout must qualify strictly fewer files: a 1-D
    sort keeps the second dimension's full span inside every file."""
    import glob

    import duckdb

    from simple_query_engine_spark.operators.storage import zordered_orders

    zed = zordered_orders(spark, sf_dir)
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    zed.repartitionByRange(16, "z").sortWithinPartitions("z").write.parquet(zpath)
    zed.repartitionByRange(16, "ck").sortWithinPartitions("ck").write.parquet(lpath)

    lo_ck, hi_ck, lo_day, hi_day = duckdb.sql(
        f"SELECT MIN(ck), MAX(ck), MIN(day), MAX(day) FROM '{zpath}/*.parquet'"
    ).fetchone()
    # The middle quarter of each dimension.
    box_ck = (lo_ck + (hi_ck - lo_ck) // 4, lo_ck + (hi_ck - lo_ck) // 2)
    box_day = (lo_day + (hi_day - lo_day) // 4, lo_day + (hi_day - lo_day) // 2)

    def qualifying_files(path: str) -> tuple[int, int]:
        files = sorted(glob.glob(f"{path}/*.parquet"))
        hits = 0
        for f in files:
            mn_ck, mx_ck, mn_day, mx_day = duckdb.sql(
                f"SELECT MIN(ck), MAX(ck), MIN(day), MAX(day) FROM '{f}'"
            ).fetchone()
            if mx_ck >= box_ck[0] and mn_ck <= box_ck[1] \
                    and mx_day >= box_day[0] and mn_day <= box_day[1]:
                hits += 1
        return hits, len(files)

    z_hits, z_total = qualifying_files(zpath)
    l_hits, l_total = qualifying_files(lpath)
    assert z_total == l_total == 16
    # 1-D sort: every custkey-qualifying file spans all dates, so ~1/4 of
    # files qualify.  Z-order: the box is 1/16 of the plane, so only the
    # files whose z-range crosses it qualify.
    assert z_hits < l_hits, (z_hits, l_hits)
    assert z_hits <= 6, z_hits


def _race_materialize(path, barrier, writer_id, results):
    from simple_query_engine_spark.operators.storage import materialize_once
    import os

    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "payload.txt"), "w") as fh:
            fh.write(f"writer {writer_id}")
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    barrier.wait()
    try:
        materialize_once(path, write)
        results.put(("ok", writer_id))
    except Exception as exc:  # pragma: no cover - diagnostic aid
        results.put(("err", repr(exc)))


def test_materialize_once_concurrent_builders_never_clobber(tmp_path):
    """N processes racing the same materialization: exactly one copy is
    built, no builder errors, and the finished dir is never deleted out
    from under a winner (the pre-lock race: a late builder rmtree'd the
    winner's COMPLETE copy as 'partial')."""
    import multiprocessing
    import os

    path = str(tmp_path / "derived")
    ctx = multiprocessing.get_context("fork")
    n = 8
    barrier = ctx.Barrier(n)
    results = ctx.Queue()
    procs = [
        ctx.Process(target=_race_materialize, args=(path, barrier, i, results))
        for i in range(n)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    outcomes = [results.get(timeout=5) for _ in range(n)]
    assert all(v == "ok" for v, _ in outcomes), outcomes
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    with open(os.path.join(path, "payload.txt")) as fh:
        assert fh.read().startswith("writer ")
    # No stray tmp dirs left behind.
    parent = os.path.dirname(path)
    strays = [d for d in os.listdir(parent) if ".tmp." in d]
    assert strays == []


def test_materialize_once_reaps_its_lock_after_success(tmp_path):
    """ADVICE r13: the builder-serialization lock sidecar must not
    accumulate forever — a successful build (or a waiter that finds
    _SUCCESS) best-effort unlinks it."""
    import os

    from simple_query_engine_spark.operators.storage import materialize_once

    path = str(tmp_path / "derived")

    def write(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    materialize_once(path, write)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(path + ".lock")


def test_scratch_dir_sweeps_stale_siblings_only(spark, tmp_path):
    """The scratch root is self-cleaning: a sibling the engine created
    that is older than the TTL is reclaimed on the next scratch_dir call,
    a fresh one (a live run's scratch) is never touched, and neither is
    an old entry the engine did not create (the root is configurable)."""
    import os
    import time

    from simple_query_engine_spark.operators.storage import (
        _SCRATCH_MARK,
        _SCRATCH_TTL_SEC,
        SCRATCH_CONF,
        scratch_dir,
    )

    spark.conf.set(SCRATCH_CONF, str(tmp_path / "root"))
    try:
        fresh = scratch_dir(spark, "fresh_")
        root = os.path.dirname(fresh)
        assert root == str(tmp_path / "root")
        stale = os.path.join(root, f"{_SCRATCH_MARK}stale_leftover")
        # A crashed merge's source copy is per-run scratch like any other.
        stale_merge = os.path.join(root, f"{_SCRATCH_MARK}merge_src_dead")
        foreign = os.path.join(root, "stale_user_data")
        old = time.time() - _SCRATCH_TTL_SEC - 60
        for p in (stale, stale_merge, foreign):
            os.makedirs(os.path.join(p, "t"))
            os.utime(p, (old, old))

        new = scratch_dir(spark, "next_")
        assert not os.path.exists(stale)
        assert not os.path.exists(stale_merge)
        assert os.path.isdir(foreign)
        assert os.path.isdir(fresh) and os.path.isdir(new)
    finally:
        spark.conf.unset(SCRATCH_CONF)


def test_scratch_dir_refuses_uri_root(spark, sf_dir, tmp_path, monkeypatch):
    """A URI scratch root fails loudly, naming the conf, for per-run
    scratch and staged copies alike: Python's os calls would otherwise
    create a local ./hdfs:/... tree while Spark writes remotely, and
    nothing would ever sweep the remote dirs."""
    import os
    import re

    import pytest

    from simple_query_engine_spark.operators.storage import (
        SCRATCH_CONF,
        scratch_dir,
        staged_path,
    )

    monkeypatch.chdir(tmp_path)
    spark.conf.set(SCRATCH_CONF, "hdfs://nn/sqe")
    try:
        with pytest.raises(ValueError, match=re.escape(SCRATCH_CONF)):
            scratch_dir(spark, "cc_")
        with pytest.raises(ValueError, match=re.escape(SCRATCH_CONF)):
            staged_path(spark, sf_dir, ("events",), "by_day")
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert os.listdir(tmp_path) == []


def test_sweep_prefix_filter_spares_unrelated_entries():
    """ADVICE r14: when the sweep targets a USER-CONFIGURABLE root (the
    CC scratch dir), it must reclaim only entries this code created
    (mkdtemp 'cc_' prefix) — an unrelated old file or dir in a shared
    directory is never touched."""
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from simple_query_engine_spark.operators.storage import (
        _SCRATCH_TTL_SEC,
        sweep_stale_scratch,
    )

    root = os.path.join(
        tempfile.gettempdir(), f"sqe_shared_test_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(root)
    old = time.time() - _SCRATCH_TTL_SEC - 60
    ours = os.path.join(root, "cc_stale123")
    theirs_dir = os.path.join(root, "user_data")
    theirs_file = os.path.join(root, "notes.txt")
    os.makedirs(ours)
    os.makedirs(theirs_dir)
    with open(theirs_file, "w") as fh:
        fh.write("precious")
    for p in (ours, theirs_dir, theirs_file):
        os.utime(p, (old, old))

    sweep_stale_scratch(root, prefix="cc_")
    assert not os.path.exists(ours)
    assert os.path.isdir(theirs_dir)
    assert os.path.exists(theirs_file)
    shutil.rmtree(root, ignore_errors=True)


def test_z_bucket_matches_exact_integer_division_on_adversarial_spans(spark):
    """z_bucket computes the grid cell through a double division + long
    cast (documented exact for spans up to ~2**45); pin it against exact
    Python integer floor division over adversarial spans — tiny, prime,
    power-of-two, and at the documented ceiling — including the
    floor-tip hazard values (cell boundaries ± 1)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.functions.zorder import z_bucket

    bits = 8
    grid = 1 << bits
    spans = [
        (0, 0),                      # degenerate single-value range
        (0, 9),                      # tiny
        (-7, 13),                    # negative lo
        (0, 251),                    # prime span
        (1000, 1000 + 2**16 - 1),    # power-of-two span
        (0, 2**40),                  # large
        (0, 2**45 - 2),              # the documented ceiling
    ]
    for lo, hi in spans:
        span = hi - lo + 1
        values = {lo, hi, lo - 5, hi + 5}  # clamp edges + out-of-range
        for cell in (1, grid // 2, grid - 1):
            # v at and around the exact boundary of `cell`
            boundary = lo + (cell * span) // grid
            values |= {boundary - 1, boundary, boundary + 1}
        values = sorted(v for v in values)
        df = spark.createDataFrame([(v,) for v in values], "v LONG")
        got = {
            r["v"]: r["b"]
            for r in df.select(
                "v", z_bucket(F.col("v"), lo, hi, bits).alias("b")
            ).collect()
        }
        for v in values:
            clamped = min(max(v, lo), hi)
            want = ((clamped - lo) * grid) // span
            assert got[v] == want, (lo, hi, v, got[v], want)


def test_z_interleave_matches_python_bit_model(spark):
    """Round-robin interleave pinned against a direct Python bit model
    for 2 and 3 dimensions over random-ish bucket values."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.functions.zorder import z_interleave

    bits = 8

    def model(buckets):
        z = 0
        for i in range(bits):
            for j, b in enumerate(buckets):
                z |= ((b >> i) & 1) << (i * len(buckets) + j)
        return z

    rows = [
        (a % 256, (a * 37) % 256, (a * 101) % 256) for a in range(0, 4096, 61)
    ]
    df = spark.createDataFrame(rows, "a LONG, b LONG, c LONG")
    got2 = df.select(
        "a", "b", z_interleave([F.col("a"), F.col("b")], bits).alias("z")
    ).collect()
    for r in got2:
        assert r["z"] == model([r["a"], r["b"]]), (r["a"], r["b"])
    got3 = df.select(
        "a", "b", "c",
        z_interleave([F.col("a"), F.col("b"), F.col("c")], bits).alias("z"),
    ).collect()
    for r in got3:
        assert r["z"] == model([r["a"], r["b"], r["c"]]), (r["a"], r["b"], r["c"])


def _fake_sf(tmp_path, side: str = "sf") -> str:
    """A one-table scale dir: staged_path only stats its source files."""
    root = tmp_path / side / "sfX"
    root.mkdir(parents=True)
    (root / "events.parquet").write_bytes(b"x" * (len(side) + 7))
    return str(root)


def test_staged_path_reaps_stale_generation_siblings(spark, tmp_path):
    """Regenerated-testdata litter (r16): a staged copy of an older
    generation (same name and root, different source identity or tag) is
    reaped by the next staged_path call.  The live copy, its in-flight
    materialize_once sidecars (`.tmp.<pid>` dir, `.lock` file — ADVICE
    r16 medium: reaping those would defeat the flock/atomic-rename race
    safety), other names and other roots all survive."""
    import os

    from simple_query_engine_spark.operators.storage import (
        SCRATCH_CONF,
        staged_path,
    )

    sf = _fake_sf(tmp_path)
    other_sf = _fake_sf(tmp_path, "other")
    spark.conf.set(SCRATCH_CONF, str(tmp_path / "root"))
    try:
        live = staged_path(spark, sf, ("events",), "reaptest")
        assert os.path.dirname(live) == str(tmp_path / "root")
        head = live.rsplit("_", 1)[0]
        stale = f"{head}_0123456789ab"
        other_name = staged_path(spark, sf, ("events",), "reaptestx")
        other_root = staged_path(spark, other_sf, ("events",), "reaptest")
        live_tmp_sidecar = f"{live}.tmp.12345"
        live_lock_sidecar = f"{live}.lock"
        for p in (live, stale, other_name, other_root, live_tmp_sidecar):
            os.makedirs(p)
        with open(live_lock_sidecar, "w"):
            pass
        assert staged_path(spark, sf, ("events",), "reaptest") == live
        assert os.path.isdir(live)
        assert not os.path.exists(stale)
        assert os.path.isdir(other_name) and os.path.isdir(other_root)
        assert os.path.isdir(live_tmp_sidecar), "in-flight builder temp reaped"
        assert os.path.exists(live_lock_sidecar), "builder lock reaped"
    finally:
        spark.conf.unset(SCRATCH_CONF)


def test_staged_path_same_basename_roots_coexist(spark, tmp_path):
    """ADVICE r16 low: two testdata roots sharing a basename (/a/sf0.1
    and /b/sf0.1) must keep INDEPENDENT derived copies — alternating
    calls against both roots must not reap each other's live trees
    (pre-fix they did, re-materializing multi-GB copies every swap)."""
    import os

    from simple_query_engine_spark.operators.storage import (
        SCRATCH_CONF,
        staged_path,
    )

    roots = [_fake_sf(tmp_path, side) for side in ("a", "b")]
    spark.conf.set(SCRATCH_CONF, str(tmp_path / "root"))
    try:
        p_a = staged_path(spark, roots[0], ("events",), "coex")
        p_b = staged_path(spark, roots[1], ("events",), "coex")
        assert p_a != p_b, "same-basename roots collide on cache identity"
        os.makedirs(p_a)
        os.makedirs(p_b)
        # Alternating calls: each root's reap pass must spare the other's.
        assert staged_path(spark, roots[0], ("events",), "coex") == p_a
        assert staged_path(spark, roots[1], ("events",), "coex") == p_b
        assert os.path.isdir(p_a) and os.path.isdir(p_b)
    finally:
        spark.conf.unset(SCRATCH_CONF)


def test_staged_path_new_generation_reaps_old(spark, tmp_path):
    """A changed caller tag and a regenerated source (same bytes, new
    mtime) each name a new generation, and the call that names it reaps
    the old copy."""
    import os

    from simple_query_engine_spark.operators.storage import (
        SCRATCH_CONF,
        staged_path,
    )

    sf = _fake_sf(tmp_path)
    spark.conf.set(SCRATCH_CONF, str(tmp_path / "root"))
    try:
        v1 = staged_path(spark, sf, ("events",), "gen", tag="v1")
        os.makedirs(v1)
        v2 = staged_path(spark, sf, ("events",), "gen", tag="v2")
        assert v2 != v1 and not os.path.exists(v1)
        os.makedirs(v2)
        src = os.path.join(sf, "events.parquet")
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        regenerated = staged_path(spark, sf, ("events",), "gen", tag="v2")
        assert regenerated != v2 and not os.path.exists(v2)
    finally:
        spark.conf.unset(SCRATCH_CONF)


def test_staged_copy_touched_on_use_survives_sweep(spark, tmp_path):
    """Liveness: a staged copy older than the TTL is touched when it is
    requested, so scratch_dir's sweep spares it; a copy nobody requested
    is reclaimed by the same sweep."""
    import os
    import time

    from simple_query_engine_spark.operators.storage import (
        _SCRATCH_TTL_SEC,
        SCRATCH_CONF,
        scratch_dir,
        staged_path,
    )

    sf = _fake_sf(tmp_path)
    spark.conf.set(SCRATCH_CONF, str(tmp_path / "root"))
    try:
        used = staged_path(spark, sf, ("events",), "used")
        unused = staged_path(spark, sf, ("events",), "unused")
        old = time.time() - _SCRATCH_TTL_SEC - 60
        for p in (used, unused):
            os.makedirs(p)
            os.utime(p, (old, old))
        assert staged_path(spark, sf, ("events",), "used") == used
        scratch_dir(spark, "sweep_")
        assert os.path.isdir(used)
        assert not os.path.exists(unused)
    finally:
        spark.conf.unset(SCRATCH_CONF)


def test_staged_copy_lands_under_scratch_root(spark, sf_dir, tmp_path):
    """A staged copy is built under the configured scratch root."""
    from simple_query_engine_spark.operators.storage import SCRATCH_CONF

    root = str(tmp_path / "root")
    spark.conf.set(SCRATCH_CONF, root)
    try:
        files = partitioned_events(spark, sf_dir).inputFiles()
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert files
    assert all(f.startswith(f"file://{root}/sqe_stage_by_day_") for f in files)
