"""The class-data archive ``get_spark`` launches the JVM with: the decision
(conf dir, root, key, hit or miss, reaping) without a JVM, the promotion of
a dump after the JVM exits, and two fresh REPL processes end to end."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from simple_query_engine_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def spark_home(tmp_path, monkeypatch):
    """A fake Spark home (templates-only conf dir, two jars) and java."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    (home / "jars").mkdir()
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return home


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_templates_only_conf_dir_swaps_to_an_empty_dir(spark_home, tmp_path):
    root = str(tmp_path / "cache")
    archive = session._class_archive(root, 123)
    assert archive is not None
    assert archive.conf_dir == os.path.join(root, "conf")
    assert os.listdir(archive.conf_dir) == []


@pytest.mark.parametrize("where", ["spark_home", "SPARK_CONF_DIR"])
def test_real_conf_file_gives_a_plain_start(spark_home, tmp_path, monkeypatch, where):
    conf_dir = spark_home / "conf"
    if where == "SPARK_CONF_DIR":
        conf_dir = tmp_path / "own_conf"
        conf_dir.mkdir()
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    (conf_dir / "spark-defaults.conf").write_text("spark.x 1\n")
    assert session._class_archive(str(tmp_path / "cache"), 123) is None


def test_unwritable_root_gives_a_plain_start(spark_home, tmp_path):
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    assert session._class_archive(str(blocker / "cache"), 123) is None


def test_jar_listing_change_gives_a_new_key(spark_home):
    before = session._archive_key(str(spark_home))
    assert session._archive_key(str(spark_home)) == before
    (spark_home / "jars" / "c.jar").write_bytes(b"jar")
    assert session._archive_key(str(spark_home)) != before


def test_miss_dumps_to_a_pid_temp_file_and_hit_maps_the_archive(spark_home, tmp_path):
    root = str(tmp_path / "cache")
    miss = session._class_archive(root, 4242)
    final = os.path.join(root, miss.key + ".jsa")
    assert miss.dump == final + ".tmp.4242"
    assert f"-XX:ArchiveClassesAtExit={miss.dump}" in miss.option
    assert "-Xlog:cds=off" in miss.option
    with open(final, "wb") as fh:
        fh.write(b"archive")
    hit = session._class_archive(root, 4243)
    assert hit.dump is None
    assert f"-XX:SharedArchiveFile={final}" in hit.option
    assert "-Xlog:cds=off" in hit.option


def test_stale_temp_files_and_other_keys_are_reaped(spark_home, tmp_path):
    root = tmp_path / "cache"
    root.mkdir()
    key = session._archive_key(str(spark_home))
    dead = root / f"{key}.jsa.tmp.{_dead_pid()}"
    live = root / f"{key}.jsa.tmp.{os.getpid()}"
    other = root / "0123456789abcdef.jsa"
    kept = root / f"{key}.jsa"
    for path in (dead, live, other, kept):
        path.write_bytes(b"x")
    assert session._class_archive(str(root), 123).dump is None
    assert sorted(os.listdir(root)) == sorted(["conf", live.name, kept.name])


def _dumping_jvm(exit_code: int) -> subprocess.Popen:
    """A stand-in gateway: exits with ``exit_code`` once stdin closes."""
    script = f"import sys; sys.stdin.read(); sys.exit({exit_code})"
    return subprocess.Popen([sys.executable, "-c", script], stdin=subprocess.PIPE)


@pytest.mark.parametrize("outcome", ["failed", "killed"])
def test_failed_or_killed_dump_never_reaches_the_archive_name(spark_home, tmp_path, outcome):
    archive = session._class_archive(str(tmp_path / "cache"), os.getpid())
    with open(archive.dump, "wb") as fh:
        fh.write(b"truncated")
    proc = _dumping_jvm(1)
    if outcome == "killed":
        proc.kill()
        proc.wait()
    session._promote(archive, proc)
    assert not os.path.exists(archive.path)
    assert not os.path.exists(archive.dump)


def test_clean_exit_promotes_the_dump(spark_home, tmp_path):
    archive = session._class_archive(str(tmp_path / "cache"), os.getpid())
    with open(archive.dump, "wb") as fh:
        fh.write(b"archive")
    session._promote(archive, _dumping_jvm(0))
    assert not os.path.exists(archive.dump)
    with open(archive.path, "rb") as fh:
        assert fh.read() == b"archive"


def _children(pid: int) -> list[int]:
    with open(f"/proc/{pid}/task/{pid}/children") as fh:
        return [int(c) for c in fh.read().split()]


def test_fresh_processes_build_then_map_the_archive(tmp_path):
    """The first REPL process leaves ``<key>.jsa`` and no temp file; the
    second one's JVM maps it and gives the same answer."""
    csv = tmp_path / "cities.csv"
    csv.write_text("city,population\nBerlin,3645000\nMadrid,3223000\nLyon,513000\n")
    env = {
        k: v for k, v in os.environ.items() if not k.startswith(("PYSPARK_GATEWAY", "SPARK_CONF_DIR"))
    }
    env.update(
        XDG_CACHE_HOME=str(tmp_path / "xdg"),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")])),
    )
    command = [sys.executable, "-u", "-m", "simple_query_engine_spark.repl", str(csv)]
    query = "PROJECT city FILTER population > 1000000\n"
    root = tmp_path / "xdg" / "simple_query_engine_spark"

    first = subprocess.run(
        command, input=query + "exit\n", env=env, capture_output=True, text=True, timeout=600
    )
    assert first.returncode == 0, first.stderr[-2000:]
    archives = [name for name in os.listdir(root) if name.endswith(".jsa")]
    assert len(archives) == 1
    assert not [name for name in os.listdir(root) if ".tmp." in name]

    second = subprocess.Popen(
        command,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        env=env,
        text=True,
    )
    try:
        second.stdin.write(query)
        second.stdin.flush()
        seen = []
        while len(seen) < 3 or not seen[-1].startswith("Madrid"):
            line = second.stdout.readline()
            assert line, "the REPL ended before answering"
            seen.append(line)
        maps = ""
        for child in _children(second.pid):
            with open(f"/proc/{child}/maps") as fh:
                maps += fh.read()
        assert str(root / archives[0]) in maps
        rest, _ = second.communicate("exit\n", timeout=300)
    finally:
        second.kill()
        shutil.rmtree(root, ignore_errors=True)  # 150 MB or more
    assert "".join(seen) + rest == first.stdout


def test_engine_sessions_skip_dataframe_debugging(spark):
    """``get_spark`` turns off PySpark's per-call origin capture, so no
    Column call pays its py4j round trips or its IPython import."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
