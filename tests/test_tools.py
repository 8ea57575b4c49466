"""Pins for the verification tooling itself (ADVICE r14 resolutions).

A bug in the gate tooling silently weakens every correctness claim, so
the two r15 tool fixes get their own regression tests: the
directory-shaped-table guard in the oracle harness and the amplified-copy
cache's format-version invalidation.
"""

from __future__ import annotations

import os

import pytest

from simple_query_engine_spark.operators.storage import SCRATCH_CONF


def test_table_src_file_dir_and_empty_dir(tmp_path):
    """Plain file passes through; a Spark-written directory globs its part
    files; a directory holding only _SUCCESS (empty/failed write) fails
    FAST with a message naming the path — never an opaque DuckDB IO error
    later at query time (ADVICE r14)."""
    from tools.check_correctness import _table_src

    f = tmp_path / "t.parquet"
    f.write_bytes(b"")
    assert _table_src(str(f)) == str(f)

    d = tmp_path / "dir.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match="no \\*.parquet part"):
        _table_src(str(d))

    (d / "part-00000.parquet").write_bytes(b"")
    assert _table_src(str(d)) == f"{d}/*.parquet"


def _amplified_paths(spark, monkeypatch, tmp_path):
    """ensure_amplified with the amplifier stubbed out (it only creates
    the staged dir) over a one-table scale dir, under a tmp scratch root."""
    import tools.amplify_testdata as amp

    src = tmp_path / "sf"
    src.mkdir()
    (src / "orders.parquet").write_bytes(b"x")

    def fake_amplify_dir(spark, sf_dir, k, dst, hot_fraction=0.0, corpus=False):
        os.makedirs(dst, exist_ok=True)
        return dst

    monkeypatch.setattr(amp, "amplify_dir", fake_amplify_dir)
    spark.conf.set(SCRATCH_CONF, str(tmp_path / "root"))
    return amp, str(src)


def test_ensure_amplified_tag_carries_format_version(spark, tmp_path, monkeypatch):
    """An amplifier change bumps _AMPLIFY_FORMAT: the next request gets a
    new path and the old-format copy is reaped, never silently served
    (the r15 whitespace-split fix would otherwise have benchmarked
    f1-format fixtures forever)."""
    amp, src = _amplified_paths(spark, monkeypatch, tmp_path)
    try:
        old = amp.ensure_amplified(spark, src, 8, corpus=True)
        assert old.startswith(str(tmp_path / "root"))
        monkeypatch.setattr(amp, "_AMPLIFY_FORMAT", amp._AMPLIFY_FORMAT + "x")
        new = amp.ensure_amplified(spark, src, 8, corpus=True)
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert new != old
    assert os.path.isdir(new) and not os.path.exists(old)


def test_ensure_amplified_reaps_stale_generations_keeps_live_variants(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15: a testdata regeneration must REMOVE the old cached
    amplified trees, not just stop serving them.  Each variant (k, hot
    fraction, corpus mode) is its own staged copy: requesting one reaps
    its own old generation, while the other variants stay until they are
    next requested (or the scratch root's TTL sweep takes them)."""
    amp, src = _amplified_paths(spark, monkeypatch, tmp_path)
    try:
        x8 = amp.ensure_amplified(spark, src, 8)
        corpus = amp.ensure_amplified(spark, src, 8, corpus=True)
        hot = amp.ensure_amplified(spark, src, 32, hot_fraction=0.3)
        assert len({x8, corpus, hot}) == 3
        orders = os.path.join(src, "orders.parquet")
        st = os.stat(orders)
        os.utime(orders, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        x8_new = amp.ensure_amplified(spark, src, 8)
        assert x8_new != x8 and not os.path.exists(x8)
        assert os.path.isdir(corpus) and os.path.isdir(hot)
        corpus_new = amp.ensure_amplified(spark, src, 8, corpus=True)
        assert corpus_new != corpus and not os.path.exists(corpus)
        assert os.path.isdir(x8_new) and os.path.isdir(hot)
    finally:
        spark.conf.unset(SCRATCH_CONF)


def test_scratch_ttl_env_malformed_falls_back(tmp_path):
    """ADVICE r15: a malformed SQE_SCRATCH_TTL_SEC must fall back to the
    24h default instead of crashing module import."""
    import subprocess
    import sys

    env = dict(os.environ, SQE_SCRATCH_TTL_SEC="not-a-number")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from simple_query_engine_spark.operators.storage import "
            "_SCRATCH_TTL_SEC; print(_SCRATCH_TTL_SEC)",
        ],
        env=env,
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == str(24 * 3600)
