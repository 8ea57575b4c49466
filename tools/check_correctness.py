"""Local emulation of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at a scale factor, runs the matching
``oracle_sql()`` in DuckDB over the same parquet tables, and compares
row count + column names + order-insensitive values (columns sorted by
name, rows sorted, floats compared to 1e-9) **and result types by kind**.

The type check exists because the driver's value hash is type-sensitive:
round 5 shipped two oracles whose ``SUM(int)`` DuckDB widened to HUGEINT
(int128) against Spark's LongType — values identical, driver hash FAIL,
local gate (then type-blind) "ok".  A local "ok" must predict the driver's
hash_match, so a kind mismatch (int128 vs int64, DECIMAL vs DOUBLE, DATE
vs TIMESTAMP, ...) is now a failure even when every value compares equal.

Usage:
  python tools/check_correctness.py [sf_dir] [name_filter...]
  python tools/check_correctness.py --types-only [sf_dir]
      DuckDB-side-only standing scan (no Spark): flags any oracle emitting
      a HUGEINT or DECIMAL column — the two widening hazards.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from simple_query_engine_spark.sources.catalog import TABLE_NAMES


def normalize(rows: list[tuple]) -> list[tuple]:
    def key(row):
        return tuple(
            (val is None, str(type(val)), str(val)) for val in row
        )

    return sorted(rows, key=key)


def values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b or str(a) == str(b)


def duck_kind(type_str: str) -> str:
    """Collapse a DuckDB type name to a comparison kind."""
    s = str(type_str).upper()
    if s in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
        return "int128"
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s.startswith("DECIMAL") or s.startswith("NUMERIC"):
        return "decimal"
    if s in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if s == "DATE":
        return "date"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    if s in ("VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR"):
        return "str"
    if s == "BOOLEAN":
        return "bool"
    if s == "BLOB" or s == "BYTEA":
        return "binary"
    if s.endswith("[]") or s.startswith("LIST") or s.startswith("ARRAY"):
        return "array"
    if s.startswith("STRUCT"):
        return "struct"
    if s.startswith("MAP"):
        return "map"
    return f"other:{s}"


def spark_kind(simple: str) -> str:
    """Collapse a Spark ``dataType.simpleString()`` to a comparison kind."""
    s = simple.lower()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s.startswith("decimal"):
        return "decimal"
    if s in ("double", "float"):
        return "float"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "string":
        return "str"
    if s == "boolean":
        return "bool"
    if s == "binary":
        return "binary"
    if s.startswith("array"):
        return "array"
    if s.startswith("struct"):
        return "struct"
    if s.startswith("map"):
        return "map"
    return f"other:{s}"


def compare_types(spark_schema, duck_cols, duck_types) -> str | None:
    """Fail on result-type KIND divergence (the driver hash is type-sensitive)."""
    spark_by_col = {f.name: spark_kind(f.dataType.simpleString())
                    for f in spark_schema.fields}
    for col, dtype in zip(duck_cols, duck_types):
        dk = duck_kind(dtype)
        sk = spark_by_col.get(col)
        if sk is None:
            continue  # column-name mismatch is reported by compare()
        if dk != sk:
            return (f"type-kind mismatch col {col}: spark={sk} duck={dk} "
                    f"(duck type {dtype}) — driver hash would fail")
    return None


def compare(spark_rows, duck_rows, spark_cols, duck_cols) -> str | None:
    if sorted(spark_cols) != sorted(duck_cols):
        return f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    spark_order = [spark_cols.index(c) for c in sorted(spark_cols)]
    duck_order = [duck_cols.index(c) for c in sorted(duck_cols)]
    s_rows = normalize([tuple(r[i] for i in spark_order) for r in spark_rows])
    d_rows = normalize([tuple(r[i] for i in duck_order) for r in duck_rows])
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for sv, dv, col in zip(sr, dr, sorted(spark_cols)):
            if not values_equal(sv, dv):
                return f"value mismatch at sorted-row {i} col {col}: spark={sv!r} duck={dv!r}"
    return None


def _table_src(path: str) -> str:
    """DuckDB source string for a table path: the file itself, or a
    part-file glob for a Spark-written directory.  A directory with NO
    part files (an empty or failed write that left only _SUCCESS) fails
    HERE with a clear message instead of surfacing later as an opaque
    DuckDB IO error at query time (ADVICE r14)."""
    import glob as _glob

    if not os.path.isdir(path):
        return path
    if not _glob.glob(os.path.join(path, "*.parquet")):
        raise FileNotFoundError(
            f"directory-shaped table {path} contains no *.parquet part "
            "files (empty or failed write?) — the oracle view would fail "
            "opaquely at query time"
        )
    return f"{path}/*.parquet"


def register_views(con, sf_dir: str) -> None:
    """One DuckDB view per catalog table present under ``sf_dir``.
    Driver testdata is one file per table; Spark-written dirs (the
    amplified fixtures) are directories of part files — ``_table_src``
    globs those, so the oracle runs against either layout."""
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{_table_src(path)}'")


def scan_oracle_types(sf_dir: str) -> int:
    """Standing DuckDB-only scan: flag every oracle column whose type is a
    widening hazard (HUGEINT/DECIMAL) — catches the round-5 failure class
    without starting Spark.  LIMIT 0 keeps it metadata-cheap."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    register_views(con, sf_dir)
    hazards = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as error:
            hazards.append((name, f"ORACLE ERROR: {str(error)[:200]}"))
            continue
        for col, dtype in zip(rel.columns, rel.types):
            kind = duck_kind(dtype)
            if kind in ("int128", "decimal"):
                hazards.append((name, f"col {col} is {dtype} ({kind})"))
    if hazards:
        for name, what in hazards:
            print(f"HAZARD  {name}: {what}")
        print(f"\n{len(hazards)} widening hazard(s) — cast these oracles "
              "(CAST(... AS BIGINT/DOUBLE)) or the driver hash will fail")
        return 1
    print("no HUGEINT/DECIMAL oracle columns — clean")
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--types-only"]
    if "--types-only" in sys.argv[1:]:
        return scan_oracle_types(args[0] if args else "/root/testdata/sf0.01")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1:]

    import __spark_entry__ as entrymod
    from simple_query_engine_spark.session import get_spark

    spark = get_spark(app_name="correctness-check")
    con = duckdb.connect()
    register_views(con, sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passes, rows_only = [], [], []
    for name, fn in queries.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        start = time.time()
        try:
            result = fn(spark, sf_dir)
            spark_cols = result.columns
            spark_rows = [tuple(r) for r in result.collect()]
        except Exception as error:
            failures.append((name, f"SPARK ERROR: {error}"))
            print(f"FAIL  {name}: spark error: {str(error)[:300]}")
            continue
        elapsed = time.time() - start
        if name not in oracles:
            rows_only.append(name)
            print(f"rows-only  {name}: {len(spark_rows)} rows  ({elapsed:.1f}s)")
            continue
        try:
            duck = con.sql(oracles[name])
            duck_cols = list(duck.columns)
            duck_types = list(duck.types)
            duck_rows = duck.fetchall()
        except Exception as error:
            failures.append((name, f"DUCKDB ERROR: {error}"))
            print(f"FAIL  {name}: duckdb error: {str(error)[:300]}")
            continue
        problem = compare_types(result.schema, duck_cols, duck_types) or compare(
            spark_rows, duck_rows, spark_cols, duck_cols
        )
        if problem:
            failures.append((name, problem))
            print(f"FAIL  {name}: {problem}")
        else:
            passes.append(name)
            print(f"ok    {name}: {len(spark_rows)} rows  ({elapsed:.1f}s)")

    print(
        f"\n{len(passes)} ok, {len(rows_only)} rows-only, {len(failures)} failed"
    )
    for name, problem in failures:
        print(f"  FAIL {name}: {problem[:200]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
