"""Managed-table DML: snapshot versioning, copy-on-write file hygiene,
atomic commits, time travel, and merge semantics."""

from __future__ import annotations

import json
import os
import re

import pytest

from pyspark.sql import functions as F

from simple_query_engine_spark.sources.managed import (
    ManagedTable,
    TableVersionConflict,
)


@pytest.fixture
def people(spark):
    return spark.createDataFrame(
        [(i, f"name_{i}", i * 10.0, "even" if i % 2 == 0 else "odd") for i in range(20)],
        ["id", "name", "balance", "parity"],
    )


def _rows(df):
    return sorted(map(tuple, df.select("id", "name", "balance", "parity").collect()))


def test_create_read_roundtrip_and_versions(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    assert t.versions() == [0]
    assert _rows(t.read()) == _rows(people)
    with pytest.raises(ValueError, match="already exists"):
        ManagedTable.create(spark, str(tmp_path / "t"), people)


def test_insert_appends_without_touching_existing_files(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    before = set(t._files(0))
    extra = spark.createDataFrame(
        [(100, "name_100", 1000.0, "even")], ["id", "name", "balance", "parity"]
    )
    version = t.insert(extra)
    assert version == 1
    after = t._files(1)
    assert before <= set(after)  # every v0 file carried over by reference
    assert t.read().count() == 21
    assert t.read(version=0).count() == 20  # time travel unaffected


def test_delete_rewrites_only_affected_files(spark, tmp_path, people):
    # Build a table whose even and odd rows live in disjoint files (create
    # evens, insert odds — inserts never rewrite), then delete the odds and
    # assert every even file carried over by reference, untouched.
    evens = people.filter(F.col("parity") == "even").coalesce(1)
    odds = people.filter(F.col("parity") == "odd").coalesce(1)
    t = ManagedTable.create(spark, str(tmp_path / "t"), evens)
    even_files = set(t._files(0))
    t.insert(odds)
    assert even_files <= set(t._files(1))

    t.delete_where(F.col("parity") == "odd")
    v2_files = set(t._files(2))
    assert even_files <= v2_files, "files without matches must carry over"
    assert not (set(t._files(1)) - even_files) & v2_files, "odd files rewritten"
    remaining = t.read().collect()
    assert all(r.parity == "even" for r in remaining)
    assert len(remaining) == 10
    # Deleted rows still visible at earlier versions (snapshot isolation).
    assert t.read(version=1).count() == 20


def test_update_sets_only_matching_rows(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    t.update(F.col("id") < 5, {"balance": F.col("balance") + 1000.0})
    got = {r.id: r.balance for r in t.read().collect()}
    for i in range(20):
        assert got[i] == i * 10.0 + (1000.0 if i < 5 else 0.0)


def test_merge_upserts(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    source = spark.createDataFrame(
        [(3, "updated_3", 999.0, "odd"), (200, "name_200", 2000.0, "even")],
        ["id", "name", "balance", "parity"],
    )
    t.merge(
        source,
        on="id",
        update_assignments={"name": F.col("s.name"), "balance": F.col("s.balance")},
    )
    got = {r.id: (r.name, r.balance) for r in t.read().collect()}
    assert len(got) == 21
    assert got[3] == ("updated_3", 999.0)  # matched → updated
    assert got[4] == ("name_4", 40.0)  # unmatched target → untouched
    assert got[200] == ("name_200", 2000.0)  # unmatched source → inserted


def test_merge_matched_probe_survives_null_data_columns(spark, tmp_path):
    """A matched source row whose data columns are all NULL must still
    count as matched (the probe is an explicit marker, not a data column)."""
    target = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    t = ManagedTable.create(spark, str(tmp_path / "t"), target)
    source = spark.createDataFrame([(1, None)], "id: bigint, val: string")
    t.merge(source, on="id", update_assignments={"val": F.col("s.val")})
    got = {r.id: r.val for r in t.read().collect()}
    assert got == {1: None, 2: "b"}


def test_merge_rejects_duplicate_source_keys(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    source = spark.createDataFrame(
        [(1, "a", 1.0, "odd"), (1, "b", 2.0, "odd")], people.schema
    )
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge(source, on="id", update_assignments={"name": F.col("s.name")})


def test_concurrent_commit_conflict(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    extra = spark.createDataFrame([(42, "x", 0.0, "even")], people.schema)
    t.insert(extra)
    # Simulate a racing writer that resolved the same base version.
    stale_files = t._files(0)
    with pytest.raises(TableVersionConflict):
        t._commit(1, stale_files)


def test_empty_snapshot_keeps_schema(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    t.delete_where(F.lit(True))
    assert t.read().count() == 0
    assert t.read().columns == ["id", "name", "balance", "parity"]


def test_manifest_files_all_exist(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    t.delete_where(F.col("id") >= 15)
    t.insert(spark.createDataFrame([(50, "z", 5.0, "even")], people.schema))
    for version in t.versions():
        for path in t._files(version):
            assert os.path.exists(path), (version, path)


def _race_commit(path, barrier, writer_id, results):
    """Child-process body: race to commit version 1 of the table at
    ``path``.  ManagedTable._commit is pure filesystem (no Spark), so the
    race runs in real separate processes against the real O_EXCL commit."""
    t = ManagedTable(None, path)
    barrier.wait()  # maximize contention: all writers commit "at once"
    try:
        t._commit(1, [f"file_from_writer_{writer_id}.parquet"])
        results.put(("won", writer_id))
    except TableVersionConflict:
        results.put(("conflict", writer_id))


def test_concurrent_commit_exactly_one_winner(spark, tmp_path, people):
    """N real processes racing the same version commit: exactly one wins,
    every loser gets TableVersionConflict, and the surviving manifest is
    the winner's intact file list (no torn/mixed write)."""
    import multiprocessing

    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    ctx = multiprocessing.get_context("fork")
    n_writers = 8
    barrier = ctx.Barrier(n_writers)
    results = ctx.Queue()
    procs = [
        ctx.Process(target=_race_commit, args=(t.path, barrier, i, results))
        for i in range(n_writers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    outcomes = [results.get(timeout=5) for _ in range(n_writers)]
    winners = [wid for verdict, wid in outcomes if verdict == "won"]
    losers = [wid for verdict, wid in outcomes if verdict == "conflict"]
    assert len(winners) == 1
    assert len(losers) == n_writers - 1
    manifest = os.path.join(t.path, "_manifests", "v00001.json")
    with open(manifest) as fh:
        committed = json.load(fh)
    assert committed["version"] == 1
    assert committed["files"] == [f"file_from_writer_{winners[0]}.parquet"]
    # The commit path carries the base schema forward into every manifest.
    assert json.loads(committed["schema"])["type"] == "struct"


def test_conflict_loser_retries_cleanly(spark, tmp_path, people):
    """Optimistic-concurrency protocol end-to-end: writer A snapshots the
    base version, writer B commits first, A's commit raises
    TableVersionConflict, and A's retry against the NEW snapshot lands both
    writers' rows with nothing lost or doubled."""
    path = str(tmp_path / "t")
    ManagedTable.create(spark, path, people)
    writer_a = ManagedTable(spark, path)
    writer_b = ManagedTable(spark, path)
    row_a = spark.createDataFrame(
        [(100, "name_100", 1000.0, "even")], ["id", "name", "balance", "parity"]
    )
    row_b = spark.createDataFrame(
        [(101, "name_101", 1010.0, "odd")], ["id", "name", "balance", "parity"]
    )
    # Writer A is mid-insert: it has resolved the base snapshot and written
    # its data files, but not yet committed.
    base = writer_a.current_version()
    a_files = writer_a._write_data_files(row_a)
    # Writer B commits first.
    assert writer_b.insert(row_b) == base + 1
    # A's commit against its stale snapshot must lose...
    with pytest.raises(TableVersionConflict):
        writer_a._commit(base + 1, writer_a._files(base) + a_files)
    # ...and the retry replays against the new current snapshot (the data
    # files are already written — only the manifest commit re-runs).
    retry_base = writer_a.current_version()
    assert retry_base == base + 1
    version = writer_a._commit(retry_base + 1, writer_a._files(retry_base) + a_files)
    assert version == base + 2
    ids = sorted(r.id for r in writer_a.read().select("id").collect())
    assert ids == sorted(list(range(20)) + [100, 101])


def test_compact_merges_small_files_and_preserves_history(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.repartition(4))
    t.insert(people.withColumn("id", F.col("id") + 100).repartition(4))
    before_files = t._files(1)
    assert len(before_files) >= 8
    version = t.compact(target_files=1)
    assert version == 2
    after_files = t._files(2)
    assert len(after_files) == 1
    # Data identical, history intact: v1 still reads its original files.
    assert t.read(version=2).count() == 40
    assert sorted(r.id for r in t.read(2).collect()) == sorted(
        r.id for r in t.read(1).collect()
    )
    assert t._files(1) == before_files
    assert all(os.path.exists(f) for f in before_files)


def test_compact_skips_large_files(spark, tmp_path, people):
    # One deliberately-large file (20 rows) + two trickle files (1 row
    # each): the size gap is structural, so the threshold between them
    # cannot tie (a same-row-count repartition CAN produce equal sizes).
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.coalesce(1))
    one = spark.createDataFrame([(100, "a", 1.0, "even")], people.schema)
    two = spark.createDataFrame([(101, "b", 2.0, "odd")], people.schema)
    t.insert(one.coalesce(1))
    t.insert(two.coalesce(1))
    files_v2 = t._files(2)
    sizes = {f: os.path.getsize(f) for f in files_v2}
    big = max(files_v2, key=sizes.get)
    version = t.compact(min_file_bytes=sizes[big])
    assert version == 3
    assert [f for f in t._files(3) if f in set(files_v2)] == [big]
    assert t.read().count() == 22


def test_compact_noop_when_nothing_qualifies(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.coalesce(1))
    assert t.compact() == 0  # single file: no empty commit
    assert t.versions() == [0]


def test_schema_evolution_append_and_time_travel(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    batch = spark.createDataFrame(
        [(200, "name_200", 2000.0, "even", "fr")],
        ["id", "name", "balance", "parity", "lang"],
    )
    with pytest.raises(ValueError, match="adds columns"):
        t.insert(batch)
    version = t.insert(batch, evolve_schema=True)
    assert version == 1
    final = t.read()
    assert final.schema.fieldNames() == ["id", "name", "balance", "parity", "lang"]
    by_id = {r.id: r.lang for r in final.collect()}
    assert by_id[200] == "fr"
    assert all(by_id[i] is None for i in range(20))  # old files read as NULL
    # Time travel reads v0 with the schema of its era.
    assert t.read(version=0).schema.fieldNames() == ["id", "name", "balance", "parity"]


def test_insert_rejects_type_and_missing_column_divergence(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    wrong_type = spark.createDataFrame(
        [(300, "n", 5, "odd")], ["id", "name", "balance", "parity"]
    )  # balance long, table has double
    with pytest.raises(ValueError, match="balance"):
        t.insert(wrong_type)
    missing = people.select("id", "name", "balance")
    with pytest.raises(ValueError, match="missing table columns"):
        t.insert(missing)


def test_mutations_carry_schema_after_evolution(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    batch = spark.createDataFrame(
        [(200, "name_200", 2000.0, "even", "fr")],
        ["id", "name", "balance", "parity", "lang"],
    )
    t.insert(batch, evolve_schema=True)
    t.delete_where(F.col("id") < 5)  # schema-preserving mutation
    assert t.read().schema.fieldNames() == ["id", "name", "balance", "parity", "lang"]
    assert t.read().count() == 16


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.repartition(4))
    v0_files = set(t._files(0))
    t.delete_where(F.col("id") < 5)
    v1_files = set(t._files(1))
    removed = t.vacuum(retain_versions=1)
    # Exactly the v0-only files died; every v1 file survives on disk.
    assert set(removed) == v0_files - v1_files and removed
    assert all(os.path.exists(f) for f in v1_files)
    assert all(not os.path.exists(f) for f in removed)
    assert t.read().count() == 15
    # Expired time travel fails loudly at the manifest, not mid-scan.
    assert t.versions() == [1]
    with pytest.raises(FileNotFoundError):
        t.read(version=0)
    with pytest.raises(ValueError, match="retain_versions"):
        t.vacuum(retain_versions=0)


def test_vacuum_within_retention_is_noop(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    t.delete_where(F.col("id") < 5)
    assert t.vacuum(retain_versions=2) == []
    assert t.read(version=0).count() == 20  # still readable


def test_change_feed_matches_relational_diff(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.repartition(4))
    t.delete_where(F.col("id") < 3)
    t.update(F.col("parity") == "odd", {"balance": F.col("balance") + 1.0})
    feed = t.changes(0, 2).collect()
    got = sorted((r._change_op, r.id, r.balance) for r in feed)
    expected = sorted(
        [("delete", i, i * 10.0) for i in range(3)]
        + [("delete", i, i * 10.0) for i in range(3, 20) if i % 2 == 1]
        + [("insert", i, i * 10.0 + 1.0) for i in range(3, 20) if i % 2 == 1]
    )
    assert got == expected


def test_change_feed_ignores_compaction(spark, tmp_path, people):
    """Rows that merely moved between files cancel out — compaction
    produces an EMPTY feed."""
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.repartition(4))
    t.insert(people.withColumn("id", F.col("id") + 100).repartition(4))
    t.compact(target_files=1)
    assert t.changes(1, 2).count() == 0


def test_change_feed_across_schema_evolution(spark, tmp_path, people):
    """A pure ADD COLUMN append surfaces ONLY the inserted rows (diffed in
    the from-version's schema, so untouched rows produce no phantoms)."""
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    batch = spark.createDataFrame(
        [(200, "name_200", 2000.0, "even", "fr")],
        ["id", "name", "balance", "parity", "lang"],
    )
    t.insert(batch, evolve_schema=True)
    feed = t.changes(0, 1).collect()
    assert [(r._change_op, r.id) for r in feed] == [("insert", 200)]
    assert "lang" not in t.changes(0, 1).columns  # old-schema contract


def test_mixed_era_rewrite_preserves_evolved_columns(spark, tmp_path, people):
    """Regression (review finding): a DELETE whose predicate touches both
    a pre-evolution file and a post-evolution file must read the affected
    set with the MANIFEST schema — an inferred schema sampled from the
    pre-evolution footer would silently drop the evolved column from the
    rewritten survivors."""
    t = ManagedTable.create(spark, str(tmp_path / "t"), people.coalesce(1))
    batch = spark.createDataFrame(
        [(200, "name_200", 2000.0, "even", "fr"), (201, "name_201", 2010.0, "odd", "de")],
        ["id", "name", "balance", "parity", "lang"],
    )
    t.insert(batch, evolve_schema=True)
    # Predicate matches rows in the old file (id 0) AND the new file (200).
    t.delete_where(F.col("id").isin(0, 200))
    got = {r.id: r.lang for r in t.read().collect()}
    assert 0 not in got and 200 not in got
    assert got[201] == "de", "evolved column lost in the mixed-era rewrite"
    # UPDATE targeting the evolved column across eras must also resolve it.
    t.update(F.col("id") == 5, {"lang": F.lit("en")})
    got = {r.id: r.lang for r in t.read().collect()}
    assert got[5] == "en" and got[201] == "de"


def test_change_feed_rejects_reversed_range(spark, tmp_path, people):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    t.delete_where(F.col("id") < 3)
    with pytest.raises(ValueError, match="reversed"):
        t.changes(1, 0)


def test_incremental_view_equals_recompute(spark, tmp_path, people):
    """Delta-maintained aggregate == full recompute over the final
    snapshot — the IVM consumer contract of changes(), on a table whose
    mutation chain includes an insert, a delete, and an update."""
    from pyspark.sql import functions as F

    t = ManagedTable.create(spark, str(tmp_path / "t"), people.repartition(3))
    t.insert(spark.createDataFrame([(100, "n", 70.0, "even")], people.schema))
    t.delete_where(F.col("id") < 4)
    t.update(F.col("parity") == "odd", {"balance": F.col("balance") + 0.5})

    cents = F.round(F.col("balance") * 100, 0).cast("long")

    def agg(df):
        return df.groupBy("parity").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c")
        )

    sign = F.when(F.col("_change_op") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        t.changes(0, 3)
        .groupBy("parity")
        .agg(F.sum(sign).alias("dn"), F.sum(sign * cents).alias("dc"))
    )
    maintained = {
        r.parity: (r.n, r.c)
        for r in agg(t.read(version=0))
        .join(delta, "parity", "full_outer")
        .select(
            "parity",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("c", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias("c"),
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    recomputed = {r.parity: (r.n, r.c) for r in agg(t.read()).collect()}
    assert maintained == recomputed


def test_history_records_ops_and_files(spark, tmp_path):
    from simple_query_engine_spark.sources.managed import ManagedTable

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = ManagedTable.create(spark, str(tmp_path / "t"), df.coalesce(1))
    t.insert(spark.createDataFrame([(3, "c")], "id long, v string").coalesce(1))
    t.update(F.col("id") == 1, {"v": F.lit("z")})
    t.delete_where(F.col("id") == 2)
    t.compact(target_files=1)
    hist = t.history()
    assert [h["op"] for h in hist] == [
        "create",
        "insert",
        "update",
        "delete",
        "compact",
    ]
    assert [h["version"] for h in hist] == [0, 1, 2, 3, 4]
    for h in hist:
        assert h["n_files"] >= 1
    # history() reads manifests only; the compacted snapshot is 1 file.
    assert hist[-1]["n_files"] == 1


def test_zorder_compact_records_stats_and_skips_files(spark, tmp_path):
    """OPTIMIZE ZORDER + manifest min/max stats + box-pruned read: the
    measured files-skipped > 0 evidence (VERDICT r08 item 4)."""
    import itertools

    # 32x32 grid, hash-scattered across 8 files: every pre-compact file
    # spans essentially the whole (x, y) space.
    grid = spark.createDataFrame(
        [
            (x, y, x * 32 + y, x * 0.5)
            for x, y in itertools.product(range(32), range(32))
        ],
        "x long, y long, payload long, w double",
    )
    t = ManagedTable.create(spark, str(tmp_path / "t"), grid.repartition(8))
    v = t.compact(zorder_by=["x", "y"], target_files=16)
    assert v == 1

    # Stats recorded for every new file, for exactly the integer columns.
    stats = t._manifest(v)["stats"]
    assert set(stats) == set(t._files(v))
    for fstats in stats.values():
        assert set(fstats) == {"x", "y", "payload"}
        assert fstats["x"][0] <= fstats["x"][1]

    # 2-D box = one quadrant; pruning must skip files AND stay exact.
    boxed, n_read, n_total = t.scan_box({"x": (0, 7), "y": (0, 7)})
    assert n_total == len(t._files(v))
    assert 0 < n_read < n_total, f"no skipping: read {n_read}/{n_total}"
    got = sorted(r.payload for r in boxed.collect())
    want = sorted(
        x * 32 + y for x, y in itertools.product(range(8), range(8))
    )
    assert got == want

    # The z-layout keeps BOTH dimensions tight: a quadrant box should
    # open at most half the files (measured locality, not just > 0).
    assert n_read <= n_total // 2

    # Unstatted columns never prune: the double w has no stats entry.
    _, all_read, _ = t.scan_box({"w": (0, 0)})
    assert all_read == n_total


def test_zorder_stats_carry_through_later_commits(spark, tmp_path):
    """Stats ride the manifest like files do: carried unchanged for
    untouched files, collected afresh for rewritten ones."""
    df = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(1000)], "id long, bucket long, v double"
    )
    t = ManagedTable.create(spark, str(tmp_path / "t"), df.repartition(4))
    t.compact(zorder_by=["id", "bucket"], target_files=8)
    stats_before = t._manifest(t.current_version())["stats"]

    # Delete touches only files whose stats boxes contain id < 50.
    t.delete_where(F.col("id") < 50)
    manifest = t._manifest(t.current_version())
    untouched = set(manifest["files"]) & set(stats_before)
    rewritten = set(manifest["files"]) - untouched
    assert untouched and rewritten
    assert set(manifest["stats"]) == set(manifest["files"])
    for f in untouched:
        assert json.dumps(manifest["stats"][f]) == json.dumps(stats_before[f])
    for f in rewritten:
        assert set(manifest["stats"][f]) == {"id", "bucket"}
        assert manifest["stats"][f]["id"][0] >= 50

    # A box read after the partial rewrite is still exact.
    boxed, n_read, n_total = t.scan_box({"id": (900, 999)})
    assert boxed.count() == 100
    assert n_read <= n_total

    # Time travel still prunes with the OLD version's stats.
    _, old_read, old_total = t.scan_box({"id": (0, 49)}, version=1)
    assert old_read < old_total


def test_zorder_rejects_all_null_column_and_open_ranges_read_everything(
    spark, tmp_path
):
    df = spark.createDataFrame(
        [(i, None) for i in range(10)], "id long, dead long"
    )
    t = ManagedTable.create(spark, str(tmp_path / "t"), df.repartition(2))
    with pytest.raises(ValueError, match="entirely NULL"):
        t.compact(zorder_by=["id", "dead"])

    # Valid single-column clustering still works; an open-open range
    # prunes nothing and returns every row.
    v = t.compact(zorder_by=["id"], target_files=4)
    assert v == 1
    boxed, n_read, n_total = t.scan_box({"id": (None, None)})
    assert n_read == n_total
    assert boxed.count() == 10


def test_shallow_clone_shares_files_then_diverges(spark, tmp_path, people):
    src = ManagedTable.create(spark, str(tmp_path / "src"), people)
    dst = src.clone_shallow(str(tmp_path / "dst"))
    # Zero-copy: the clone's v0 manifest references the SOURCE's files.
    assert dst._files(0) == src._files(src.current_version())
    assert _rows(dst.read()) == _rows(people)
    with pytest.raises(ValueError, match="already exists"):
        src.clone_shallow(str(tmp_path / "dst"))

    # Divergence: the clone's delete rewrites into the CLONE's own data
    # dir; shared files and the source are untouched.
    dst.delete_where(F.col("parity") == "odd")
    assert _rows(src.read()) == _rows(people)
    assert dst.read().count() == 10
    for f in dst._files(dst.current_version()):
        assert os.path.exists(f)

    # And the source mutating does not disturb the clone.
    src.delete_where(F.col("parity") == "even")
    assert dst.read().count() == 10


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path, people):
    """A clone's vacuum is scoped to the clone's OWN data directory: the
    borrowed source files its expired manifests reference must survive,
    even when no retained clone manifest references them any more
    (ADVICE r09 high: create -> clone_shallow -> 2 clone deletes ->
    clone.vacuum(retain_versions=2) used to delete the source's live
    files and break src.read())."""
    src = ManagedTable.create(spark, str(tmp_path / "src"), people)
    src_files = set(src._files(src.current_version()))
    dst = src.clone_shallow(str(tmp_path / "dst"))
    dst.delete_where(F.col("parity") == "odd")   # v1: rewrites into dst/data
    dst.delete_where(F.col("id") < 3)            # v2
    dst.delete_where(F.col("id") > 15)           # v3
    removed = dst.vacuum(retain_versions=2)
    # Only clone-owned files may be removed; every borrowed file survives.
    dst_data = str(tmp_path / "dst" / "data") + os.sep
    assert all(f.startswith(dst_data) for f in removed)
    assert all(os.path.exists(f) for f in src_files)
    assert _rows(src.read()) == _rows(people)
    # The clone's retained snapshots stay readable too.
    assert dst.read().count() == dst.read(dst.current_version()).count()


def test_restore_is_forward_history_and_restores_stats(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "id long, bucket long"
    )
    t = ManagedTable.create(spark, str(tmp_path / "t"), df.repartition(4))
    t.compact(zorder_by=["id", "bucket"], target_files=4)  # v1, with stats
    t.delete_where(F.col("id") < 50)  # v2, the mistake
    v = t.restore(1)
    assert v == 3
    assert [h["op"] for h in t.history()] == [
        "create",
        "compact",
        "delete",
        "restore",
    ]
    assert t.read().count() == 100
    # Restore carries the restored snapshot's per-file stats, so the
    # z-order skipping still works on the restored version.
    _, n_read, n_total = t.scan_box({"id": (0, 10)})
    assert n_read < n_total
    with pytest.raises(ValueError, match="cannot restore"):
        t.restore(99)


# -- round-12 hardening: SQL NULL semantics, path normalization, atomic
#    commits, and the four merge-parity guards -----------------------------


def test_delete_null_predicate_rows_survive_everywhere(spark, tmp_path):
    """SQL DELETE keeps rows where the predicate evaluates NULL — and the
    outcome must not depend on whether the NULL row happens to share a
    file with a deleted row (the rewritten-file path) or not (the
    untouched-file path)."""
    co_located = spark.createDataFrame(
        [(1, 10.0), (2, None)], ["id", "x"]
    ).coalesce(1)
    isolated = spark.createDataFrame([(3, None), (4, 1.0)], ["id", "x"]).coalesce(1)
    t = ManagedTable.create(spark, str(tmp_path / "t"), co_located)
    t.insert(isolated)
    t.delete_where(F.col("x") > 5)
    got = sorted((r.id, r.x) for r in t.read().collect())
    # Only id=1 (x=10 > 5 is TRUE) is deleted; both NULL rows and x=1 stay.
    assert got == [(2, None), (3, None), (4, 1.0)]


def test_relative_table_path_rewrites_correctly(spark, tmp_path, monkeypatch):
    """A table created via a cwd-relative path must still subtract the
    affected files from the manifest (absolute _metadata paths vs
    manifest strings): a broken subtraction would carry the original
    file AND its rewrite — resurrecting deleted rows."""
    monkeypatch.chdir(tmp_path)
    df = spark.createDataFrame([(i, i * 1.0) for i in range(10)], ["id", "x"])
    t = ManagedTable.create(spark, "rel_table", df.coalesce(1))
    t.delete_where(F.col("id") < 5)
    got = sorted(r.id for r in t.read().collect())
    assert got == [5, 6, 7, 8, 9]  # not duplicated, not resurrected


def test_commit_leaves_no_temp_manifests_and_conflicts_cleanly(
    spark, tmp_path, people
):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    t.insert(people.limit(1))
    names = os.listdir(t._manifest_dir)
    assert all(n.endswith(".json") for n in names), names
    # A pre-existing version file still raises a clean conflict (and the
    # loser's temp file is removed).
    with pytest.raises(TableVersionConflict):
        t._commit(1, t._files(1), op="insert")
    assert all(n.endswith(".json") for n in os.listdir(t._manifest_dir))


def test_merge_duplicate_unmatched_keys_insert_and_matched_raise(
    spark, tmp_path, people
):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    # Two source rows with key 100 (matches no target row) both insert;
    # two rows with NULL keys also both insert (NULL never matches).
    src = spark.createDataFrame(
        [
            (100, "dup_a", 1.0, "even"),
            (100, "dup_b", 2.0, "even"),
            (None, "null_a", 3.0, "odd"),
            (None, "null_b", 4.0, "odd"),
        ],
        "id long, name string, balance double, parity string",
    )
    t.merge(src, on="id")
    names = sorted(
        r.name for r in t.read().filter(F.col("id").isNull() | (F.col("id") == 100)).collect()
    )
    assert names == ["dup_a", "dup_b", "null_a", "null_b"]
    # Duplicate keys that DO match a target row are ambiguous → error.
    dup_matched = spark.createDataFrame(
        [(1, "x", 0.0, "odd"), (1, "y", 0.0, "odd")],
        "id long, name string, balance double, parity string",
    )
    with pytest.raises(ValueError, match="multiple rows for matched key"):
        t.merge(dup_matched, on="id", update_assignments={"name": F.col("s.name")})


def test_merge_rejects_divergent_types_and_unknown_assignments(
    spark, tmp_path, people
):
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    int_source = spark.createDataFrame(
        [(1, "x", 0.0, "odd")], "id int, name string, balance double, parity string"
    )
    with pytest.raises(ValueError, match="merge source column 'id'"):
        t.merge(int_source, on="id")
    ok_source = spark.createDataFrame(
        [(1, "x", 0.0, "odd")], "id long, name string, balance double, parity string"
    )
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge(ok_source, on="id", update_assignments={"balanec": F.lit(0.0)})
    # Assignment expressions that change a column's type are caught before
    # any file is written.
    with pytest.raises(ValueError, match="merge update column 'balance'"):
        t.merge(
            ok_source, on="id", update_assignments={"balance": F.lit("not a double")}
        )
    assert t.current_version() == 0  # nothing committed by any failed merge


def test_merge_nondeterministic_source_is_materialized_once(spark, tmp_path):
    """Every source key must land exactly once even when the source is
    non-deterministic (rand()): without one-shot materialization the
    duplicate check, affected-file probe, update join, and insert
    anti-join would each see DIFFERENT rows."""
    base = spark.createDataFrame([(i, 0.0) for i in range(5)], ["id", "x"])
    t = ManagedTable.create(spark, str(tmp_path / "t"), base)
    src = spark.range(0, 10).select(
        F.col("id").cast("long").alias("id"), F.rand().alias("x")
    )
    t.merge(src, on="id", update_assignments={"x": F.col("s.x")})
    rows = t.read().collect()
    counts = {}
    for r in rows:
        counts[r.id] = counts.get(r.id, 0) + 1
    assert counts == {i: 1 for i in range(10)}, counts
    assert all(0.0 <= r.x < 1.0 for r in rows if r.id < 10)


def test_merge_unmaterialized_deterministic_source_matches(spark, tmp_path, people):
    """materialize_source=False on a deterministic source produces the
    same table state as the default materialized path, with nothing ever
    created under the scratch root."""
    from simple_query_engine_spark.operators.storage import SCRATCH_CONF

    root = tmp_path / "root"
    spark.conf.set(SCRATCH_CONF, str(root))
    try:
        t_mat = ManagedTable.create(spark, str(tmp_path / "mat"), people)
        t_raw = ManagedTable.create(spark, str(tmp_path / "raw"), people)
        src = spark.createDataFrame(
            [(1, "upd_1", -1.0, "odd"), (100, "new_100", 1000.0, "even")],
            "id long, name string, balance double, parity string",
        )
        t_raw.merge(
            src,
            on="id",
            update_assignments={"name": F.col("s.name")},
            materialize_source=False,
        )
        assert not root.exists()
        t_mat.merge(src, on="id", update_assignments={"name": F.col("s.name")})
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert _rows(t_mat.read()) == _rows(t_raw.read())


def test_materialized_merge_stages_under_scratch_root(spark, tmp_path, people):
    """A materialized merge copies its source under the engine's scratch
    root, never under the table, and removes the copy whether the merge
    commits or raises."""
    from simple_query_engine_spark.operators.storage import SCRATCH_CONF

    root = tmp_path / "root"
    spark.conf.set(SCRATCH_CONF, str(root))
    try:
        t = ManagedTable.create(spark, str(tmp_path / "t"), people)
        src = spark.createDataFrame(
            [(1, "upd_1", -1.0, "odd"), (100, "new_100", 1000.0, "even")],
            people.schema,
        )
        t.merge(src, on="id", update_assignments={"name": F.col("s.name")})
        assert t.current_version() == 1
        dup = spark.createDataFrame(
            [(3, "first", 1.0, "odd"), (3, "second", 2.0, "odd")], people.schema
        )
        with pytest.raises(ValueError, match="multiple rows for matched key"):
            t.merge(dup, on="id", update_assignments={"name": F.col("s.name")})
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert t.current_version() == 1
    assert not [n for n in os.listdir(root) if n.startswith("sqe_merge_src_")]
    assert sorted(os.listdir(t.path)) == ["_manifests", "data"]


def test_vacuum_sweeps_stale_temps_but_not_fresh_ones(spark, tmp_path, people):
    """A stranded v*.json.tmp.<hex> in _manifests (a crashed commit) is
    reclaimed by vacuum once it ages past the bar; a FRESH temp (a
    possibly in-flight commit) is left alone."""
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    stale_manifest_tmp = os.path.join(t._manifest_dir, "v00001.json.tmp.deadbeef")
    fresh_manifest_tmp = os.path.join(t._manifest_dir, "v00001.json.tmp.cafef00d")
    for p in (stale_manifest_tmp, fresh_manifest_tmp):
        with open(p, "w") as fh:
            fh.write("{}")
    old = os.path.getmtime(stale_manifest_tmp) - ManagedTable._STALE_TMP_SEC - 60
    os.utime(stale_manifest_tmp, (old, old))
    assert t.vacuum(retain_versions=2) == []  # no expired versions; sweep still runs
    assert not os.path.exists(stale_manifest_tmp)
    assert os.path.exists(fresh_manifest_tmp)
    # The survivors don't confuse version discovery or reads.
    assert t.versions() == [0]
    assert _rows(t.read()) == _rows(people)


def _crash_between_temp_write_and_link(path, results):
    """Simulate a writer dying AFTER its temp manifest is durable but
    BEFORE os.link publishes it: hard-exit inside os.link, so neither the
    link nor the finally's unlink runs."""
    import os as _os

    real_link = _os.link

    def dying_link(src, dst, **kw):
        _os._exit(42)  # hard crash: no finally, no atexit

    _os.link = dying_link
    try:
        t = ManagedTable(None, path)
        t._commit(1, ["file_from_crashed_writer.parquet"], op="insert")
    finally:  # pragma: no cover - unreachable past the crash
        _os.link = real_link
    results.put("commit unexpectedly survived")


def test_crash_between_temp_write_and_link_strands_nothing_vital(
    spark, tmp_path, people
):
    """VERDICT r12 item 7: kill the writer between temp-manifest write and
    the os.link commit point.  The table must stay readable at the prior
    version, a retry of the same commit must succeed, and the stranded
    temp must (a) be invisible to version discovery and (b) get swept by
    vacuum once stale."""
    import multiprocessing

    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    ctx = multiprocessing.get_context("fork")
    results = ctx.Queue()
    p = ctx.Process(
        target=_crash_between_temp_write_and_link, args=(t.path, results)
    )
    p.start()
    p.join(timeout=60)
    assert p.exitcode == 42  # died exactly at the injected point
    assert results.empty()
    # The temp was written (durable) but never published.
    stranded = [n for n in os.listdir(t._manifest_dir) if ".json.tmp." in n]
    assert len(stranded) == 1
    # Readers see the prior version only; the table is fully readable.
    assert t.versions() == [0]
    assert _rows(t.read()) == _rows(people)
    # A retry of the same logical commit succeeds (the version name is
    # still free — the crash published nothing).
    assert t.insert(people.limit(1)) == 1
    assert t.read().count() == 21
    # Vacuum reclaims the stranded temp once it ages past the bar.
    stranded_path = os.path.join(t._manifest_dir, stranded[0])
    old = os.path.getmtime(stranded_path) - ManagedTable._STALE_TMP_SEC - 60
    os.utime(stranded_path, (old, old))
    t.vacuum(retain_versions=2)
    assert not os.path.exists(stranded_path)


def test_every_write_records_integer_column_stats(
    spark, tmp_path, people, monkeypatch
):
    """Every data write — create, insert, update, merge, plain and
    z-order compaction, and an insert into a shallow clone — records
    per-file [min, max] for exactly the table's integer columns (``id``;
    not the double ``balance`` or the strings ``name`` and ``parity``),
    so the manifest's stats cover EVERY live file at every version.  The
    stats come from the written files' footers: collecting them launches
    no Spark job."""
    sc = spark.sparkContext
    collect = ManagedTable.__dict__["_collect_file_stats"].__func__
    calls = []

    def in_job_group(cls, files, schema):
        calls.append(len(files))
        sc.setJobGroup("collect_file_stats_probe", "stats")
        try:
            return collect(cls, files, schema)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(ManagedTable, "_collect_file_stats", classmethod(in_job_group))

    def assert_integer_boxes(table):
        manifest = table._manifest(table.current_version())
        assert set(manifest["stats"]) == set(manifest["files"])
        for box in manifest["stats"].values():
            assert set(box) == {"id"}
            lo, hi = box["id"]
            assert lo <= hi

    t = ManagedTable.create(spark, str(tmp_path / "t"), people.repartition(3))
    assert_integer_boxes(t)
    src = spark.createDataFrame(
        [(200, "m", 1.0, "even")], "id long, name string, balance double, parity string"
    )
    for write in (
        lambda: t.insert(people.withColumn("id", F.col("id") + 100)),
        lambda: t.update(F.col("id") == 5, {"balance": F.lit(999.0)}),
        lambda: t.merge(src, on="id"),
        lambda: t.compact(target_files=2),
        lambda: t.insert(people.withColumn("id", F.col("id") + 300)),
        lambda: t.compact(zorder_by=["id"], target_files=2),
    ):
        base = t.current_version()
        assert write() == base + 1
        assert_integer_boxes(t)
    assert [h["op"] for h in t.history()] == [
        "create", "insert", "update", "merge", "compact", "insert", "compact",
    ]
    # The z-ordered files' fresh boxes prune the next merge's probes.
    t.merge(
        src.withColumn("id", F.lit(1).cast("long")),
        on="id",
        update_assignments={"balance": F.col("s.balance")},
    )
    assert t.last_merge_probe == {"candidate_files": 1, "total_files": 2}
    assert t.read().filter(F.col("id") == 1).first().balance == 1.0
    assert_integer_boxes(t)
    clone = t.clone_shallow(str(tmp_path / "dst"))
    clone.insert(people.withColumn("id", F.col("id") + 500))
    assert_integer_boxes(clone)

    assert len(calls) == 9 and all(calls)
    assert list(sc.statusTracker().getJobIdsForGroup("collect_file_stats_probe")) == []
    # The tracker does see a job run under a group.
    sc.setJobGroup("collect_file_stats_control", "control")
    try:
        spark.range(3).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("collect_file_stats_control"))


def test_merge_prunes_probes_to_key_range_overlapping_files(
    spark, tmp_path, monkeypatch
):
    """On a table whose files partition the key range, a merge whose
    source keys live in ONE file's range probes only that file — and the
    result is identical to the same merge on a stats-less twin."""
    base = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    ).repartitionByRange(8, "k")
    t_stats = ManagedTable.create(spark, str(tmp_path / "s"), base)
    with monkeypatch.context() as m:
        m.setattr(ManagedTable, "_collect_file_stats", lambda *args: {})
        t_plain = ManagedTable.create(spark, str(tmp_path / "p"), base)
    assert "stats" not in t_plain._manifest(0)
    src = spark.createDataFrame(
        [(10, -1.0), (20, -2.0), (99999, -3.0)], "k long, v double"
    )
    # 99999 is outside every file's range; 10/20 live in the first file.
    for t in (t_stats, t_plain):
        t.merge(src, on="k", update_assignments={"v": F.col("s.v")})
    rows_s = sorted(map(tuple, t_stats.read().collect()))
    rows_p = sorted(map(tuple, t_plain.read().collect()))
    assert rows_s == rows_p
    assert t_stats.read().filter(F.col("k") == 10).first().v == -1.0
    assert t_stats.read().filter(F.col("k") == 99999).first().v == -3.0
    assert t_stats.last_merge_probe["total_files"] >= 8
    assert (
        t_stats.last_merge_probe["candidate_files"]
        < t_stats.last_merge_probe["total_files"]
    )
    assert t_plain.last_merge_probe["candidate_files"] == (
        t_plain.last_merge_probe["total_files"]
    )


def test_merge_pruning_null_only_source_inserts_everything(spark, tmp_path):
    """A source whose keys are ALL NULL can match nothing: with stats on,
    the probe set is empty, no duplicate error fires (NULLs never match),
    and every row flows to WHEN NOT MATCHED."""
    base = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
    t = ManagedTable.create(spark, str(tmp_path / "t"), base)
    src = spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], "k long, v double"
    )
    t.merge(src, on="k")
    assert t.last_merge_probe["candidate_files"] == 0
    assert t.read().count() == 102
    assert t.read().filter(F.col("k").isNull()).count() == 2


def test_merge_pruned_dup_check_still_raises_on_matched_duplicates(spark, tmp_path):
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    ).repartitionByRange(4, "k")
    t = ManagedTable.create(spark, str(tmp_path / "t"), base)
    dup = spark.createDataFrame([(7, 1.0), (7, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="multiple rows for matched key"):
        t.merge(dup, on="k", update_assignments={"v": F.col("s.v")})


def test_certified_merge_entry_prunes_its_probes(spark, monkeypatch):
    """VERDICT r13 item 2: the CERTIFIED dml_merge_upsert path must
    exercise stats pruning — range-clustered 8-file layout + range-local
    source band → merge probes fewer files than the table holds."""
    from simple_query_engine_spark.operators import dml

    probes = []
    orig = ManagedTable.merge

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        probes.append(dict(self.last_merge_probe))
        return out

    monkeypatch.setattr(ManagedTable, "merge", spy)
    dml.q_dml_merge_upsert(spark, "/root/testdata/sf0.001").collect()
    assert probes, "entry ran no merge"
    assert probes[0]["total_files"] == 8
    assert probes[0]["candidate_files"] < probes[0]["total_files"]


def test_insert_txn_stamp_recorded_and_vacuum_safe(spark, tmp_path, people):
    """r16: insert grew the merge-style txn stamp (the streaming IVF
    append sink's exactly-once handle).  The manifest txns map must
    carry the latest batch per app through LATER commits (including
    un-stamped ones) and survive vacuum, exactly like merge's."""
    t = ManagedTable.create(spark, str(tmp_path / "t"), people)
    extra = spark.createDataFrame(
        [(100, "name_100", 1000.0, "even")], ["id", "name", "balance", "parity"]
    )
    assert t.last_txn("ingest") is None
    t.insert(extra, txn=("ingest", 0))
    assert t.last_txn("ingest") == 0
    t.insert(extra, txn=("ingest", 1))
    assert t.last_txn("ingest") == 1
    t.insert(extra)  # un-stamped commit must not drop the map
    assert t.last_txn("ingest") == 1
    t.vacuum(retain_versions=1)
    assert t.last_txn("ingest") == 1


def test_footer_stats_match_spark_aggregate(spark, tmp_path, people):
    """r18: integer-column file stats are lifted from the Parquet footers
    (zero Spark jobs).  They must be value-identical to the Spark
    aggregate they replace — pinned by computing the aggregate here and
    comparing, including the all-NULL-file [None, None] convention."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    df = spark.createDataFrame(
        [(7,), (None,), (3,), (99,)], schema
    ).repartition(2)
    t = ManagedTable.create(spark, str(tmp_path / "t"), df)
    files = t._files(0)
    footer = ManagedTable._footer_file_stats(files, schema, ["k"])
    assert set(footer) <= set(files)
    agg = (
        t._read_files(files, schema)
        .groupBy(F.col("_metadata.file_path").alias("__fp"))
        .agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
        .collect()
    )
    spark_stats = {
        t._local_path(r["__fp"]): [r["mn"], r["mx"]] for r in agg
    }
    assert {f: s["k"] for f, s in footer.items()} == spark_stats
    # Manifest stats (written via the same path) agree too.
    assert {f: s["k"] for f, s in t._manifest(0)["stats"].items()} == spark_stats
    # Non-integral columns get no stats entry: balance is double, name
    # is string.
    p = ManagedTable.create(spark, str(tmp_path / "p"), people.repartition(2))
    p_files = p._files(0)
    p_stats = ManagedTable._footer_file_stats(
        p_files, people.schema, ["balance", "name", "id"]
    )
    assert set(p_stats) == set(p_files)
    assert all(set(box) == {"id"} for box in p_stats.values())


def test_all_null_key_source_with_footer_span_probe(spark, tmp_path):
    """An all-NULL-key materialized source must still take the
    'nothing matches' shortcut when the span comes from scratch footers."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType(), True), StructField("v", StringType(), True)]
    )
    base = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    t = ManagedTable.create(spark, str(tmp_path / "t"), base)
    src = spark.createDataFrame([(None, "x"), (None, "y")], schema)
    t.merge(src, on="k", update_assignments={"v": F.col("s.v")})
    assert t.last_merge_probe["candidate_files"] == 0
    rows = sorted(map(tuple, t.read().collect()), key=lambda r: (r[0] is None, r))
    # Matched nothing: both NULL-key rows flow to WHEN NOT MATCHED inserts.
    assert rows == [(1, "a"), (2, "b"), (None, "x"), (None, "y")]


@pytest.mark.parametrize("uri", ["hdfs://nn/t", "file:///tmp/sqe_uri_table"])
def test_uri_table_path_is_refused(spark, tmp_path, monkeypatch, people, uri):
    """A URI table path fails loudly, naming the path: abspath would turn
    it into a local ``<cwd>/hdfs:/nn/t`` tree posing as the remote table
    (the layer's listing, linking and locking are local os calls)."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match=re.escape(repr(uri))):
        ManagedTable(spark, uri)
    with pytest.raises(ValueError, match=re.escape(repr(uri))):
        ManagedTable.create(spark, uri, people)
    assert os.listdir(tmp_path) == []
