"""Answer checks, run after the sessions end (outside every timed span).

- REPL lines are checked against the same CSV read by DuckDB.  Under the
  REPL's 1000-row cap the printed rows must be a sub-multiset of the
  oracle's rows, number min(cap, n), and carry the truncation marker
  exactly when n > cap.  Error lines must print the engine's error line.
- Catalog members are compared with their ``oracle_sql()`` twin where one
  exists (columns matched by name, rows order-free, floats to 1e-9
  relative); otherwise the result must be non-empty.
- Managed-table reads are compared with a DuckDB replay of the same
  batches.

Each check returns ``None`` when the answer is right, else a reason.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

ROW_CAP = 1000
TRUNCATION_MARKER = "... (first "

DUCK_TYPES = {"int": "INTEGER", "double": "DOUBLE", "str": "VARCHAR", "date": "DATE"}


def render(value) -> str:
    """One cell as the REPL prints it."""
    if value is None:
        return ""
    if isinstance(value, float) and value.is_integer():
        return str(int(value))
    return str(value)


# -- REPL ---------------------------------------------------------------------------


def repl_connection(csv_path: str, columns: list[tuple[str, str]]):
    con = duckdb.connect()
    types = ", ".join(f"'{name}': '{DUCK_TYPES[kind]}'" for name, kind in columns)
    con.sql(
        f"CREATE TABLE t AS SELECT * FROM read_csv('{csv_path}', header = true, "
        f"columns = {{{types}}})"
    )
    return con


def _mini_to_sql(line: str, kinds: dict) -> tuple[list[str], str]:
    tokens = line.split()
    if "FILTER" in tokens:
        at = tokens.index("FILTER")
        cols_part, filt = tokens[1:at], tokens[at + 1 :]
    else:
        cols_part, filt = tokens[1:], []
    cols = [c.rstrip(",") for c in cols_part]
    sql = f"SELECT {', '.join(cols)} FROM t"
    if filt:
        column, op, value = filt[0], filt[1], " ".join(filt[2:])
        value = value.strip('"')
        if kinds[column] == "str":
            value = "'" + value.replace("'", "''") + "'"
        elif kinds[column] == "date":
            value = f"DATE '{value}'"
        sql += f" WHERE {column} {op} {value}"
    return cols, sql


def check_repl(con, op: dict, kinds: dict) -> str | None:
    lines = op["output"].rstrip("\n").split("\n")
    kind = op["kind"]
    if kind in ("err_column", "err_parse"):
        if len(lines) != 1 or not lines[0].startswith("Error: "):
            return f"expected one error line, got {lines[:3]!r}"
        if kind == "err_column" and f"'{op['column']}'" not in lines[0]:
            return f"error line does not name column {op['column']}: {lines[0]!r}"
        return None
    if lines and lines[0].startswith("Error: "):
        return f"unexpected error: {lines[0]!r}"
    if kind == "sql":
        rel = con.sql(op["line"])
        header = ",".join(rel.columns)
        expected = rel.fetchall()
    else:
        cols, sql = _mini_to_sql(op["line"], kinds)
        header = ",".join(cols)
        expected = [] if kind == "wrong_type" else con.sql(sql).fetchall()
    if len(lines) < 2 or lines[0] != header or lines[1] != "-" * len(header):
        return f"bad header: {lines[:2]!r}, expected {header!r}"
    body = lines[2:]
    truncated = bool(body) and body[-1].startswith(TRUNCATION_MARKER)
    if truncated:
        body = body[:-1]
    n = len(expected)
    if truncated != (n > ROW_CAP):
        return f"truncation marker {truncated} with {n} oracle rows"
    if len(body) != min(ROW_CAP, n):
        return f"printed {len(body)} rows, expected {min(ROW_CAP, n)}"
    oracle = Counter(",".join(render(v) for v in row) for row in expected)
    extra = Counter(body) - oracle
    if extra:
        return f"rows not in the oracle answer, e.g. {next(iter(extra))!r}"
    return None


# -- catalog ------------------------------------------------------------------------


def catalog_connection(sf_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def compare_rows(columns, rows, duck_columns, duck_rows) -> str | None:
    if sorted(columns) != sorted(duck_columns):
        return f"columns {sorted(columns)} != oracle {sorted(duck_columns)}"
    if len(rows) != len(duck_rows):
        return f"{len(rows)} rows != oracle {len(duck_rows)}"
    order = [columns.index(c) for c in sorted(columns)]
    duck_order = [duck_columns.index(c) for c in sorted(duck_columns)]
    mine = sorted((tuple(r[i] for i in order) for r in rows), key=_sort_key)
    theirs = sorted((tuple(r[i] for i in duck_order) for r in duck_rows), key=_sort_key)
    for i, (a, b) in enumerate(zip(mine, theirs)):
        if not values_equal(a, b):
            return f"row {i} differs: {a!r} != oracle {b!r}"
    return None


def _sort_key(row) -> tuple:
    return tuple(_key(v) for v in row)


def _key(value):
    if value is None:
        return (0, "")
    if isinstance(value, float):
        return (1, f"{value:.9g}")
    if isinstance(value, (int, bool)):
        return (1, f"{float(value):.9g}")
    if isinstance(value, dict):
        return (2, str([_key(v) for v in value.values()]))
    if isinstance(value, (list, tuple)):
        return (2, str([_key(v) for v in value]))
    return (3, str(value))


def values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(values_equal(a[k], b[k]) for k in a)
    if isinstance(a, dict):
        a = list(a.values())
    if isinstance(b, dict):
        b = list(b.values())
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b or str(a) == str(b)


class CatalogOracle:
    """Oracle answers per catalog member, computed once per run."""

    def __init__(self, con, oracles: dict[str, str]) -> None:
        self.con = con
        self.oracles = oracles
        self.answers: dict[str, tuple] = {}

    def check(self, op: dict) -> str | None:
        if op.get("error"):
            return op["error"]
        rows = op["rows"]
        sql = self.oracles.get(op["name"])
        if sql is None:
            return None if rows else "empty result (member has no oracle)"
        if op["name"] not in self.answers:
            rel = self.con.sql(sql)
            self.answers[op["name"]] = (rel.columns, rel.fetchall())
        duck_columns, duck_rows = self.answers[op["name"]]
        return compare_rows(op["columns"], rows, duck_columns, duck_rows)


# -- managed table replay -------------------------------------------------------------


class ManagedReplay:
    """DuckDB replay of the session's managed-table batches.  ``apply``
    mirrors each committed write; ``check`` compares a read of version
    ``v`` with the replayed state at ``v``."""

    def __init__(self, orders_path: str) -> None:
        self.con = duckdb.connect()
        self.con.sql(f"CREATE TABLE cur AS SELECT * FROM '{orders_path}'")
        self._snapshot(0)

    def _snapshot(self, version: int) -> None:
        self.con.sql(f"CREATE OR REPLACE TABLE v{version} AS SELECT * FROM cur")

    def apply(self, op: dict) -> None:
        if op.get("error") or op["op"] == "create":
            return
        if op["op"] == "dml":
            kind = op["kind"]
            if kind == "insert":
                self.con.sql(f"INSERT INTO cur SELECT * FROM '{op['path']}'")
            elif kind == "update":
                self.con.sql(
                    f"UPDATE cur SET o_totalprice = o_totalprice + {op['delta']!r} "
                    f"WHERE o_orderkey % {op['mod']} = {op['rem']}"
                )
            elif kind == "delete":
                self.con.sql(
                    f"DELETE FROM cur WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}"
                )
            else:
                src = f"'{op['path']}'"
                self.con.sql(
                    "UPDATE cur SET o_totalprice = s.o_totalprice, "
                    f"o_orderstatus = s.o_orderstatus FROM {src} s "
                    "WHERE cur.o_orderkey = s.o_orderkey"
                )
                self.con.sql(
                    f"INSERT INTO cur SELECT * FROM {src} s WHERE s.o_orderkey NOT IN "
                    "(SELECT o_orderkey FROM cur)"
                )
        self._snapshot(op["version"])

    def check(self, op: dict) -> str | None:
        if op.get("error"):
            return op["error"]
        rel = self.con.sql(f"SELECT * FROM v{op['version']}")
        return compare_rows(op["columns"], op["rows"], rel.columns, rel.fetchall())

    def live_rows(self):
        return self.con.sql("SELECT * FROM cur").arrow()
