"""REPL tests: output format (reference sink contract), both dialects,
error recovery, exit commands."""

from __future__ import annotations

import io

import pytest

from simple_query_engine_spark import repl


@pytest.fixture()
def city_csv(tmp_path):
    path = tmp_path / "cities.csv"
    path.write_text(
        "city,country,population\n"
        "Berlin,Germany,3645000\n"
        "Madrid,Spain,3223000\n"
        "Paris,France,2161000\n"
    )
    return str(path)


def run_repl(data_path, lines, **kwargs):
    out = io.StringIO()
    repl.run(data_path, input_stream=io.StringIO("\n".join(lines) + "\n"), output_stream=out, **kwargs)
    return out.getvalue()


def test_single_csv_minilang_and_format(spark, city_csv):
    output = run_repl(city_csv, ["PROJECT city FILTER population > 3000000", "exit"])
    # Reference sink format: header, dashes sized to header, comma rows.
    assert "city\n----\n" in output
    assert "Berlin" in output and "Madrid" in output and "Paris" not in output


def test_error_then_recovery(spark, city_csv):
    output = run_repl(
        city_csv,
        ["PROJECT nope", "PROJEKT city", "PROJECT country FILTER city = \"Paris\"", "q"],
    )
    assert "Error: Column 'nope' not found" in output
    assert "Expected keyword 'PROJECT'" in output
    assert "France" in output  # loop recovered after both errors


def test_catalog_mode_sql_and_minilang(spark, sf_dir):
    output = run_repl(
        sf_dir,
        [
            "PROJECT n_name FILTER n_regionkey = 0",
            "SELECT count(*) AS c FROM region",
            "SELECT x FROM missing_table",
            "exit",
        ],
        default_table="nation",
    )
    assert "n_name" in output and "NATION_0" in output
    assert "c\n-\n5" in output
    assert "Error:" in output and "missing_table" in output
    # error message is trimmed to one line
    error_lines = [l for l in output.splitlines() if l.startswith("Error:")]
    assert all("\n" not in l for l in error_lines)


def test_explain_command_shows_physical_plan(spark, sf_dir):
    output = run_repl(
        sf_dir,
        ["explain PROJECT l_orderkey FILTER l_quantity > 45", "exit"],
        default_table="lineitem",
    )
    assert "Physical Plan" in output
    assert "PushedFilters" in output  # the minilang filter reached the scan
    assert "GreaterThan(l_quantity,45.0)" in output


def test_default_row_cap_truncates_with_marker(spark, city_csv):
    output = run_repl(
        city_csv,
        ["PROJECT city", "exit"],
        row_limit=2,
    )
    assert "... (first 2 rows shown; 'limit none' removes the cap)" in output
    assert output.count("\n") < 12  # only 2 data rows printed


def test_limit_command_overrides_cap(spark, city_csv):
    output = run_repl(
        city_csv,
        ["limit 1", "PROJECT city", "limit none", "PROJECT city", "limit bogus", "exit"],
    )
    assert "Row limit set to 1" in output
    assert "... (first 1 rows shown" in output
    assert "Row limit removed" in output
    # After removing the cap all three cities print with no marker.
    tail = output.split("Row limit removed (unbounded collect)")[1]
    assert tail.count("Berlin") == 1 and tail.count("Paris") == 1
    assert "first 1 rows shown" not in tail
    assert "usage: limit <N|none>" in output


def test_small_results_render_identically_under_cap(spark, city_csv):
    capped = run_repl(city_csv, ["PROJECT city", "exit"])
    uncapped = run_repl(city_csv, ["PROJECT city", "exit"], row_limit=None)
    assert capped == uncapped  # reference-parity output for small results


def test_sql_against_single_csv_view(spark, city_csv):
    output = run_repl(
        city_csv,
        ["SELECT upper(city) AS c FROM t WHERE country = 'France'", "quit"],
    )
    assert "PARIS" in output


@pytest.mark.parametrize("exit_cmd", ["exit", "quit", "q"])
def test_every_exit_command_ends_the_session(spark, city_csv, exit_cmd):
    # Lines after the exit command must never execute (src/main.rs:17,39).
    output = run_repl(city_csv, [exit_cmd, "PROJECT city"])
    assert "Berlin" not in output


def test_dispatch_routes_sql_and_minilang(spark, sf_dir):
    """dispatch() is the single path the loop and the certified catalog
    entries share: SQL-keyword lines hit spark.sql over the views,
    anything else parses as mini-language against the default table —
    and a mini-language line with no default table errors loudly."""
    import pytest

    from simple_query_engine_spark.executor import QueryExecutionError
    from simple_query_engine_spark.repl import dispatch
    from simple_query_engine_spark.sources.catalog import load_tables

    tables = load_tables(spark, sf_dir)
    sql = dispatch(spark, "SELECT COUNT(*) AS n FROM nation")
    assert sql.collect()[0].n == tables["nation"].count()
    mini = dispatch(spark, "PROJECT n_name", tables["nation"])
    assert mini.columns == ["n_name"]
    assert mini.count() == tables["nation"].count()
    with pytest.raises(QueryExecutionError):
        dispatch(spark, "PROJECT n_name")


# py4j round trips of one warm PROJECT/FILTER line through dispatch and
# format_result: 22 on a get_spark session (31 while the executor bound
# columns through ``F.col`` and literals through ``F.lit``).
_WARM_LINE_ROUND_TRIPS = 24


def test_warm_minilang_line_round_trip_budget(spark, tmp_path):
    from tools.round_trips import count_round_trips

    path = tmp_path / "abc.csv"
    path.write_text("a,b,c\n" + "".join(f"{i},x{i},{i % 7}\n" for i in range(50)))
    df = repl.load_csv(spark, str(path))
    line = "PROJECT a, b FILTER c = 5"
    expected = repl.format_result(repl.dispatch(spark, line, df))
    with count_round_trips() as calls:
        got = repl.format_result(repl.dispatch(spark, line, df))
    df.unpersist()
    assert got == expected
    assert got.splitlines()[2:] == [f"{i},x{i}" for i in range(5, 50, 7)]
    assert len(calls) <= _WARM_LINE_ROUND_TRIPS, len(calls)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_SHUFFLING_LINES = (
    "SELECT c, count(*) AS n, sum(a) AS s FROM {t} GROUP BY c",
    "SELECT a, b FROM {t} ORDER BY a DESC",
    "SELECT DISTINCT b FROM {t}",
)


def test_one_split_csv_plans_no_exchange(spark, tmp_path):
    """A one-split CSV is cached as one declared partition: a GROUP BY,
    ORDER BY and DISTINCT line over it plans no exchange, and each
    returns the rows of the same CSV cached as scanned."""
    path = tmp_path / "one.csv"
    path.write_text("a,b,c\n" + "".join(f"{i},x{i % 11},{i % 7}\n" for i in range(300)))
    df = repl.load_csv(spark, str(path))
    df.createOrReplaceTempView("one_split")
    plain = repl.read_csv(spark, str(path)).cache()
    plain.createOrReplaceTempView("one_split_plain")
    try:
        for line in _SHUFFLING_LINES:
            got = spark.sql(line.format(t="one_split"))
            rows = got.collect()
            assert "Exchange" not in _executed_plan(got), line
            plain_line = spark.sql(line.format(t="one_split_plain"))
            want = plain_line.collect()
            assert "Exchange" in _executed_plan(plain_line), line
            if "ORDER BY" in line:
                assert rows == want, line
            else:
                assert sorted(rows) == sorted(want), line
    finally:
        df.unpersist()
        plain.unpersist()


def test_multi_split_csv_keeps_its_exchange(spark, tmp_path):
    """Two files plan two scan partitions: the cache keeps them, and a
    GROUP BY over it still shuffles."""
    directory = tmp_path / "two"
    directory.mkdir()
    for part in range(2):
        (directory / f"part-{part}.csv").write_text(
            "a,b,c\n" + "".join(f"{i},x{i % 11},{i % 7}\n" for i in range(part, 300, 2))
        )
    assert repl.read_csv(spark, str(directory)).rdd.getNumPartitions() == 2
    df = repl.load_csv(spark, str(directory))
    try:
        assert df.rdd.getNumPartitions() == 2
        got = df.groupBy("c").count()
        assert sorted(tuple(r) for r in got.collect()) == [
            (c, len(range(c, 300, 7))) for c in range(7)
        ]
        assert "Exchange" in _executed_plan(got)
    finally:
        df.unpersist()


def test_csv_inference_reads_every_row(spark, tmp_path):
    """Type inference sees every cell: a column whose only non-digit cell
    is its last row is a string, and a column whose only fraction is its
    last row is a double.  A sampled inference would call both integer."""
    path = tmp_path / "late.csv"
    path.write_text(
        "code,score\n"
        + "".join(f"{i},{i % 3}\n" for i in range(2000))
        + "abc,2.5\n"
    )
    df = repl.load_csv(spark, str(path))
    try:
        assert dict(df.dtypes) == {"code": "string", "score": "double"}
        answer = repl.format_result(repl.dispatch(spark, "PROJECT code FILTER score > 2", df))
        assert answer.splitlines() == ["code", "----", "abc"]
        answer = repl.format_result(repl.dispatch(spark, "PROJECT score FILTER code = abc", df))
        assert answer.splitlines() == ["score", "-----", "2.5"]
    finally:
        df.unpersist()
