"""Seeded inputs for the benchmark.

Everything the engine sees is generated here from ``--seed``: the parquet
catalog (a TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables), the CSV the REPL loads, the REPL line scripts
(including lines that must print an error), the catalog invocation order
and the managed-table batch sequence.  The same seed gives byte-identical
inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "plate", "gizmo", "gear", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.13, 0.15, 0.14]
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()

EPOCH = dt.datetime(1970, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2400
EVENT_START = dt.datetime(2024, 1, 1)
EMBED_DIM = 64


def _micros(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - EPOCH).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def catalog_tables(rng: np.random.Generator, lineitems: int) -> dict[str, pa.Table]:
    """The star schema, sized by the lineitem row count."""
    n_orders = lineitems // 4
    n_customers = max(50, lineitems // 40)
    n_parts = max(60, lineitems // 30)
    n_suppliers = max(10, lineitems // 600)
    n_events = max(1000, lineitems // 6)
    n_users = max(20, n_events // 60)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_customers),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_suppliers), 2),
        }
    )
    retail = np.round(900.0 + (np.arange(n_parts) % 1000) * 0.1, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_parts), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
            "p_type": rng.choice(PART_TYPES, n_parts),
            "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
            "p_retailprice": retail,
        }
    )
    order_days = rng.integers(0, ORDER_DAYS, n_orders)
    tables["orders"] = orders_table(rng, np.arange(n_orders), n_customers, order_days)

    l_orderkey = np.sort(rng.integers(0, n_orders, lineitems))
    # 1-based line number within each order.
    starts = np.r_[0, np.flatnonzero(np.diff(l_orderkey)) + 1]
    group_start = np.repeat(starts, np.diff(np.r_[starts, lineitems]))
    l_linenumber = np.arange(lineitems) - group_start + 1
    l_partkey = rng.integers(0, n_parts, lineitems)
    quantity = rng.integers(1, 51, lineitems).astype(np.float64)
    ship_days = order_days[l_orderkey] + rng.integers(1, 122, lineitems)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey, pa.int64()),
            "l_partkey": pa.array(l_partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_suppliers, lineitems), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * retail[l_partkey], 2),
            "l_discount": rng.integers(0, 11, lineitems) / 100.0,
            "l_tax": rng.integers(0, 9, lineitems) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
            "l_linestatus": rng.choice(["F", "O"], lineitems),
            "l_shipdate": _micros(ORDER_START, ship_days * 86_400_000_000),
        }
    )
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": _micros(EVENT_START, offsets),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = documents_table(rng, 500)
    tables["embeddings"] = embeddings_table(rng, 500)
    return tables


def orders_table(
    rng: np.random.Generator,
    keys: np.ndarray,
    n_customers: int,
    order_days: np.ndarray | None = None,
) -> pa.Table:
    n = len(keys)
    if order_days is None:
        order_days = rng.integers(0, ORDER_DAYS, n)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _micros(ORDER_START, order_days * 86_400_000_000),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random-word documents; about 5% are planted near-duplicates (an
    earlier document plus the marker word ``dup``) so the near-dup graph
    entries have edges."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            length = int(rng.integers(20, 100))
            texts.append(" ".join(rng.choice(WORDS, length)))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_WEIGHTS),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit vectors around ten label centres."""
    centres = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_catalog(root: str, seed: int, lineitems: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    tables = catalog_tables(rng, lineitems)
    for name, table in tables.items():
        _write(table, os.path.join(root, f"{name}.parquet"))
    return tables


# -- REPL inputs --------------------------------------------------------------

# Columns of the REPL CSV: (name, kind).  Kinds drive both the CSV text and
# the literals the line generator draws.
CSV_COLUMNS = [
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "date"),
]


def write_csv(path: str, seed: int, rows: int) -> list[tuple]:
    """The REPL's CSV: lineitem-shaped rows, dates as ``YYYY-MM-DD``."""
    rng = np.random.default_rng([seed, 2])
    lineitem = catalog_tables(rng, rows)["lineitem"].to_pydict()
    records = []
    for i in range(rows):
        records.append(
            tuple(
                lineitem[name][i].date() if kind == "date" else lineitem[name][i]
                for name, kind in CSV_COLUMNS
            )
        )
    with open(path, "w") as fh:
        fh.write(",".join(name for name, _ in CSV_COLUMNS) + "\n")
        for record in records:
            fh.write(",".join(_csv_cell(v) for v in record) + "\n")
    return records


def _csv_cell(value) -> str:
    if isinstance(value, float):
        return repr(value)
    return str(value)


def repl_lines(
    rng: np.random.Generator, records: list[tuple], count: int, first_shape: int
) -> list[dict]:
    """A seeded REPL script.  Each entry is ``{"line", "kind"}``; kinds:
    ``project`` (no filter), ``eq``/``gt`` (mini-language filters), ``sql``
    (against view ``t``), ``err_column``, ``err_parse`` and ``wrong_type``
    (a literal the column's type cannot hold: the engine answers with an
    empty result, its declared cross-type semantics)."""
    names = [name for name, _ in CSV_COLUMNS]
    kinds = dict(CSV_COLUMNS)
    column_values = {name: [r[i] for r in records] for i, name in enumerate(names)}
    sorted_values = {name: sorted(vals) for name, vals in column_values.items()}

    def projection() -> list[str]:
        k = int(rng.integers(1, 4))
        return list(rng.choice(names, k, replace=False))

    def literal(column: str, value) -> str:
        if kinds[column] in ("str", "date"):
            return f'"{value}"'
        return repr(value) if isinstance(value, float) else str(value)

    def gt_threshold(column: str):
        # Selectivity from ~0.05% to ~60%: a quantile of the column.
        q = float(rng.choice([0.4, 0.8, 0.95, 0.99, 0.999, 0.9995]))
        values = sorted_values[column]
        return values[min(len(values) - 1, int(q * len(values)))]

    lines = []
    # The first line of every script has a fixed shape, so first-answer
    # time does not depend on the seed's draw of line kinds.
    first_key = column_values["l_orderkey"][int(rng.integers(0, len(records)))]
    lines.append(
        {
            "line": f"PROJECT l_orderkey, l_quantity FILTER l_orderkey = {first_key}",
            "kind": "eq",
        }
    )
    # Kinds come in shuffled blocks, so every script holds nearly the
    # same mix whatever the seed.  A session's first line and first SQL
    # line, and the SQL aggregations, are the slow ones; one SQL line per
    # block keeps them well under the ten samples above the tail
    # percentile, so the tail falls among the ordinary lines and not on
    # the edge between the two groups.
    block = ["project", "eq", "eq", "gt", "gt", "gt", "sql", "error"]
    kinds_left: list[str] = []
    while len(lines) < count:
        if not kinds_left:
            kinds_left = [str(k) for k in rng.permutation(block)]
        kind = kinds_left.pop()
        if kind == "project":
            lines.append({"line": "PROJECT " + ", ".join(projection()), "kind": kind})
        elif kind in ("eq", "gt"):
            cols = projection()
            # About a third filter on a column that is not projected.
            pool = [n for n in names if n not in cols] if rng.random() < 0.35 else cols
            column = str(rng.choice(pool))
            if kind == "eq":
                value = column_values[column][int(rng.integers(0, len(records)))]
                op = "="
            else:
                value = gt_threshold(column)
                op = ">"
            lines.append(
                {
                    "line": f"PROJECT {', '.join(cols)} FILTER {column} {op} "
                    f"{literal(column, value)}",
                    "kind": kind,
                }
            )
        elif kind == "sql":
            # The three shapes take turns, from ``first_shape``, so the
            # number of aggregations (two to three times the cost of a
            # lookup) does not follow the seed's draw.
            shape = (first_shape + sum(1 for line in lines if line["kind"] == "sql")) % 3
            lines.append({"line": _sql_line(rng, sorted_values, shape), "kind": kind})
        else:
            lines.append(_error_line(rng, names, kinds))
    return lines


def _sql_line(rng: np.random.Generator, sorted_values: dict, shape: int) -> str:
    q = sorted_values["l_quantity"][int(rng.integers(0, len(sorted_values["l_quantity"])))]
    if shape == 0:
        return (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "sum(l_linenumber) AS lines FROM t "
            f"WHERE l_quantity > {q!r} GROUP BY l_returnflag, l_linestatus"
        )
    if shape == 1:
        key = sorted_values["l_partkey"][int(rng.integers(0, len(sorted_values["l_partkey"])))]
        return (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM t "
            f"WHERE l_partkey = {key}"
        )
    return (
        "SELECT l_suppkey, count(*) AS n, max(l_orderkey) AS top FROM t "
        f"WHERE l_quantity >= {q!r} GROUP BY l_suppkey"
    )


def _error_line(rng: np.random.Generator, names: list[str], kinds: dict) -> dict:
    shape = int(rng.integers(0, 5))
    if shape == 0:
        return {"line": "PROJECT l_orderkey, l_bogus", "kind": "err_column", "column": "l_bogus"}
    if shape == 1:
        return {
            "line": "PROJECT l_orderkey FILTER l_missing = 3",
            "kind": "err_column",
            "column": "l_missing",
        }
    if shape == 2:
        numeric = [n for n in names if kinds[n] in ("int", "double")]
        column = str(rng.choice(numeric))
        return {"line": f'PROJECT l_orderkey FILTER {column} > "abc"', "kind": "wrong_type"}
    if shape == 3:
        return {"line": "PROJECT l_orderkey FILTER l_quantity ~ 3", "kind": "err_parse"}
    return {"line": "PROJEKT l_orderkey", "kind": "err_parse"}


# -- catalog + ingest schedule ----------------------------------------------------

# The flagship query runs first in every session, so first-answer time does
# not depend on the seed.
FLAGSHIP = "agg_pricing_summary"
CATALOG_MEMBERS = [
    "parity_project_filter_combo",
    "join_broadcast_dim",
    "tpch_q3_shipping_priority",
    "window_topn_per_group",
    "json_funcs",
    "window_session_counts",
    "dedup_exact",
    "sim_topk_bruteforce",
]
STREAM_ENTRY = "stream_tumbling_counts"
# Managed-table writes per round: both merge shapes, an update, a delete
# and two inserts over the two rounds.
DML_ROUNDS = [["insert", "update", "merge_narrow"], ["delete", "merge_spread", "insert"]]


def catalog_ingest_rounds(
    rng: np.random.Generator,
    orders: pa.Table,
    batch_root: str,
) -> list[list[dict]]:
    """Seeded op rounds for the ``catalog_ingest`` session, one per entry
    of ``DML_ROUNDS``.

    Each round holds every catalog member once and its DML groups (the
    write, a compaction after every third write and a read of the new
    snapshot), shuffled together.  Each round also reads one older
    version.  The first round starts by creating the managed table and
    also holds the streaming entry.  Round one therefore samples first
    invocations and round two repeats."""
    os.makedirs(batch_root, exist_ok=True)
    state = {
        "next_key": int(pc_max(orders.column("o_orderkey"))) + 1,
        "n_customers": int(pc_max(orders.column("o_custkey"))) + 1,
        "index": 0,
    }
    out = []
    for r, kinds in enumerate(DML_ROUNDS):
        units: list[list[dict]] = [[{"op": "catalog", "name": m}] for m in CATALOG_MEMBERS]
        if r == 0:
            units.append([{"op": "catalog", "name": STREAM_ENTRY}])
        # One read of an older version per round, after a seeded batch.
        old_read = int(rng.integers(0, len(kinds)))
        units.extend(
            _dml_group(rng, kind, batch_root, state, i == old_read) for i, kind in enumerate(kinds)
        )
        order = rng.permutation(len(units))
        ops = [op for i in order for op in units[i]]
        if r == 0:
            ops.insert(0, {"op": "create", "index": -1})
        out.append(ops)
    return out


def _dml_group(
    rng: np.random.Generator, kind: str, batch_root: str, state: dict, old_read: bool
) -> list[dict]:
    index = state["index"]
    state["index"] += 1
    live_hi = state["next_key"]
    batch: dict = {"op": "dml", "kind": kind, "index": index}
    if kind == "insert":
        n = int(rng.integers(200, 400))
        keys = np.arange(state["next_key"], state["next_key"] + n)
        state["next_key"] += n
        batch["path"] = _batch_file(rng, batch_root, index, keys, state["n_customers"])
    elif kind == "update":
        batch["mod"] = int(rng.integers(7, 15))
        batch["rem"] = int(rng.integers(0, batch["mod"]))
        batch["delta"] = float(rng.integers(1, 100))
    elif kind == "delete":
        lo = int(rng.integers(0, live_hi))
        batch["lo"], batch["hi"] = lo, lo + int(rng.integers(20, 80))
    else:
        if kind == "merge_narrow":
            lo = int(rng.integers(0, max(1, live_hi - 150)))
            old = np.arange(lo, lo + 150)
        else:
            old = rng.choice(live_hi, 150, replace=False)
        new = np.arange(state["next_key"], state["next_key"] + 50)
        state["next_key"] += 50
        keys = np.unique(np.r_[old, new])
        batch["path"] = _batch_file(rng, batch_root, index, keys, state["n_customers"])
    group = [batch]
    if index % 3 == 2:
        group.append({"op": "compact", "index": index})
    group.append({"op": "read", "index": index, "back": 0})
    if old_read:
        group.append({"op": "read", "index": index, "back": int(rng.integers(1, 3))})
    return group


def pc_max(column: pa.ChunkedArray):
    import pyarrow.compute as pc

    return pc.max(column).as_py()


def _batch_file(rng, root: str, index: int, keys: np.ndarray, n_customers: int) -> str:
    path = os.path.join(root, f"batch_{index:03d}.parquet")
    _write(orders_table(rng, keys, n_customers), path)
    return path
