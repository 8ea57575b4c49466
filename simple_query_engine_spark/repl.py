"""Interactive REPL — reference op #9 (reference ``src/main.rs:19-63``).

Load one CSV (reference contract) or a directory of parquet tables
(multi-table catalog extension), then loop: read a query line, parse,
execute, print.  Two query dialects per line:

- the reference mini-language ``PROJECT cols [FILTER col (>|=) value]``,
  running against the single CSV (or a chosen default table in catalog
  mode), and
- full Spark SQL (any line starting with SELECT/WITH/SHOW/DESCRIBE),
  running against the registered temp views — the SURVEY §3.1 "accept SQL
  directly via spark.sql()" shape.

Output format matches the reference sink (``src/main.rs:46-51``): header
line of comma-joined projected names, a dashes separator sized to the
header, then one comma-joined line per row.  Parse/execution errors are
printed and the loop continues; ``exit`` / ``quit`` / ``q`` ends the
session (``src/main.rs:17,39``).

The load-once/query-many pattern maps to ``df.cache()`` — the Spark analogue
of the reference's eager index build amortized across REPL queries
(``src/table.rs:79-85``).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame

from simple_query_engine_spark.executor import QueryExecutionError, execute
from simple_query_engine_spark.minilang.parser import QueryParseError, parse
from simple_query_engine_spark.session import get_spark
from simple_query_engine_spark.sources.catalog import load_tables
from simple_query_engine_spark.sources.readers import read_csv

EXIT_COMMANDS = frozenset({"exit", "quit", "q"})
_SQL_KEYWORDS = ("select", "with", "show", "describe")

# Default driver-side row cap: the reference collects every row into the
# sink (src/main.rs:46-51), which is fine for its in-memory tables but
# would OOM the Spark driver on a fat-fingered full-table PROJECT at real
# scale.  Capped by default, overridable per-session (``limit none``).
DEFAULT_ROW_LIMIT = 1000


def dispatch(spark, line: str, df: DataFrame | None = None) -> DataFrame:
    """Parse one REPL input line into its result DataFrame.

    The single query-dispatch path: SQL-keyword lines go through
    ``spark.sql`` against the registered views (the SURVEY §3.1 "accept
    SQL directly" shape); anything else is a reference mini-language query
    against the default table.  Shared by the interactive loop and the
    certified catalog entry (``repl_sql_passthrough``), so the driver's
    oracle gate exercises exactly the code path a REPL user hits.
    """
    if line.lower().startswith(_SQL_KEYWORDS):
        return spark.sql(line)
    if df is None:
        raise QueryExecutionError(
            "no default table loaded for mini-language queries"
        )
    return execute(parse(line), df)


def format_result(df: DataFrame, limit: int | None = DEFAULT_ROW_LIMIT) -> str:
    """Render a result DataFrame in the reference's text format.

    ``limit=None`` is the explicit opt-in to an unbounded collect.  When
    the cap truncates, a trailing marker line says so (small results —
    i.e. every reference-parity case — render identically either way).
    """
    header = ",".join(df.columns)
    truncated = False
    if limit is not None:
        rows = df.limit(limit + 1).collect()
        truncated = len(rows) > limit
        rows = rows[:limit]
    else:
        rows = df.collect()
    lines = [header, "-" * len(header)]
    for row in rows:
        lines.append(",".join(_render(value) for value in row))
    if truncated:
        lines.append(f"... (first {limit} rows shown; 'limit none' removes the cap)")
    return "\n".join(lines)


def _render(value) -> str:
    if value is None:
        return ""
    if isinstance(value, float) and value.is_integer():
        return str(int(value))
    return str(value)


def load_csv(spark, path: str) -> DataFrame:
    """Read ``path`` with type inference and cache it, materialized up
    front like the reference's eager load.

    A scan that plans exactly one input partition is cached as
    ``coalesce(1)``: the cached relation then reports ``SinglePartition``,
    so an aggregate, sort, DISTINCT, window or sort-merge join over it
    plans no shuffle and runs as one job.  ``getNumPartitions`` plans the
    scan but runs no job.  A multi-split input is cached as scanned, so
    its lines keep their parallel plans.
    """
    df = read_csv(spark, path)
    if df.rdd.getNumPartitions() == 1:
        df = df.coalesce(1)
    df = df.cache()
    df.count()
    return df


def run(
    data_path: str,
    input_stream=None,
    output_stream=None,
    default_table: str | None = None,
    row_limit: int | None = DEFAULT_ROW_LIMIT,
) -> None:
    """Run the REPL against one CSV file or a parquet-table directory."""
    input_stream = input_stream or sys.stdin
    output_stream = output_stream or sys.stdout
    spark = get_spark(app_name="simple-query-engine-repl")
    if os.path.isdir(data_path):
        tables = load_tables(spark, data_path)
        if not tables:
            print(f"Error: no <name>.parquet tables under {data_path}", file=output_stream)
            return
        default_table = default_table or next(iter(tables))
        if default_table not in tables:
            print(
                f"Error: table '{default_table}' not found; available: "
                f"{', '.join(tables)}",
                file=output_stream,
            )
            return
        df = tables[default_table]
        print(
            f"Loaded tables: {', '.join(tables)} "
            f"(mini-language queries target '{default_table}'; SQL sees all)",
            file=output_stream,
        )
    else:
        df = load_csv(spark, data_path)
        df.createOrReplaceTempView(default_table or "t")
    print(
        "Enter a query (PROJECT col, ... [FILTER col (>|=) value]) or SQL; "
        "prefix with 'explain' for the physical plan:",
        file=output_stream,
    )
    for line in input_stream:
        line = line.strip()
        if not line:
            continue
        if line in EXIT_COMMANDS:
            break
        if line.lower().startswith("limit"):
            arg = line.split(None, 1)[1].strip().lower() if " " in line else ""
            if arg in {"none", "off"}:
                row_limit = None
                print("Row limit removed (unbounded collect)", file=output_stream)
            elif arg.isdigit() and int(arg) > 0:
                row_limit = int(arg)
                print(f"Row limit set to {row_limit}", file=output_stream)
            else:
                print(
                    f"Error: usage: limit <N|none> (current: {row_limit})",
                    file=output_stream,
                )
            continue
        try:
            explain = False
            if line.lower().startswith("explain "):
                explain = True
                line = line[len("explain "):].strip()
            result = dispatch(spark, line, df)
            if explain:
                import contextlib
                import io

                buffer = io.StringIO()
                with contextlib.redirect_stdout(buffer):
                    result.explain("formatted")
                print(buffer.getvalue().rstrip(), file=output_stream)
            else:
                print(format_result(result, limit=row_limit), file=output_stream)
        except (QueryParseError, QueryExecutionError) as error:
            print(f"Error: {error}", file=output_stream)
        except Exception as error:  # Catalyst analysis errors etc.
            first_line = str(error).strip().splitlines()[0] if str(error).strip() else repr(error)
            print(f"Error: {first_line}", file=output_stream)


def main(argv: list[str] | None = None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if len(argv) not in (1, 2):
        print(
            "usage: python -m simple_query_engine_spark.repl <csv-path|parquet-dir> [default-table]",
            file=sys.stderr,
        )
        return 1
    run(argv[0], default_table=argv[1] if len(argv) == 2 else None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
