"""The session reuse registry (functions/caching.py): one routine behind
``session_cache`` and ``session_materialize``."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

from simple_query_engine_spark.functions import caching


@pytest.fixture
def registry(monkeypatch):
    """Empty registries for one test.  The shared fixture caches other
    tests reuse stay in the real registries, so no eviction here can
    release them (an ordering-dependent slowdown, see test_quality.py's
    ntile test); whatever the test built is released afterwards."""
    monkeypatch.setattr(caching, "_TRACKED", {})
    monkeypatch.setattr(caching, "_MATERIALIZED", {})
    yield caching
    caching.evict_all()


def _key() -> str:
    return f"_registry_test_{uuid.uuid4().hex[:8]}"


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_same_key_same_plan_serves_same_handle(spark, registry):
    key = _key()
    first = registry.session_cache(spark.range(5), "dir_a", key)
    assert registry.session_cache(spark.range(5), "dir_a", key) is first
    assert _cached(first)

    key = _key()
    first = registry.session_materialize(spark.range(5), "dir_a", key)
    assert registry.session_materialize(spark.range(5), "dir_a", key) is first
    assert sorted(r.id for r in first.collect()) == list(range(5))


def test_same_key_new_plan_releases_old_blocks_and_files(spark, registry):
    key = _key()
    old = registry.session_cache(spark.range(5), "dir_a", key)
    new = registry.session_cache(spark.range(6), "dir_a", key)
    assert new is not old
    assert not _cached(old) and _cached(new)

    key = _key()
    registry.session_materialize(spark.range(5), "dir_a", key)
    old_path = registry._MATERIALIZED[key][2]
    new = registry.session_materialize(spark.range(6), "dir_a", key)
    assert not os.path.exists(old_path)
    assert new.count() == 6


def test_new_sf_dir_evicts_both_kinds(spark, registry):
    """A call for dir B releases every dir-A entry of BOTH kinds: a cache
    call drops A's materialized files, a materialize call drops A's
    cached blocks."""
    cached = registry.session_cache(spark.range(5), "dir_a", _key())
    key = _key()
    registry.session_materialize(spark.range(5), "dir_a", key)
    path = registry._MATERIALIZED[key][2]

    b_cached = registry.session_cache(spark.range(7), "dir_b", _key())
    assert not registry._MATERIALIZED and not os.path.exists(path)
    assert not _cached(cached)
    assert list(registry._TRACKED.values()) == [("dir_b", b_cached)]

    registry.session_materialize(spark.range(7), "dir_a", _key())
    assert not registry._TRACKED and not _cached(b_cached)
    assert [e[0] for e in registry._MATERIALIZED.values()] == ["dir_a"]


def test_deleted_materialization_rebuilds(spark, registry):
    """Files reclaimed under a live entry (a later scratch sweep) are
    noticed: the same key and plan rebuild instead of serving a scan of
    missing files."""
    key = _key()
    first = registry.session_materialize(spark.range(5), "dir_a", key)
    shutil.rmtree(registry._MATERIALIZED[key][2])
    again = registry.session_materialize(spark.range(5), "dir_a", key)
    assert again is not first
    assert os.path.exists(registry._MATERIALIZED[key][2])
    assert sorted(r.id for r in again.collect()) == list(range(5))


def test_evict_all_empties_both_registries(spark, registry):
    cached = registry.session_cache(spark.range(5), "dir_a", _key())
    key = _key()
    registry.session_materialize(spark.range(5), "dir_a", key)
    path = registry._MATERIALIZED[key][2]
    registry.evict_all()
    assert not registry._TRACKED and not registry._MATERIALIZED
    assert not _cached(cached) and not os.path.exists(path)
