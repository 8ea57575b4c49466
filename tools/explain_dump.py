"""Dump .explain("formatted") for named catalog queries to files.

Usage: python tools/explain_dump.py <out_dir> <suffix> <query>[,<query>...] [sf_dir]

Writes <out_dir>/<query>_<suffix>.txt for each query — the plan-evidence
artifact for optimization rounds (run once at the pre-round commit for
"before", once at HEAD for "after").  Streaming/stateful entries whose
result is only defined after a run are constructed the same way the bench
constructs them (the returned frame's plan is what executes at the noop
sink).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3].split(",")
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    os.makedirs(out_dir, exist_ok=True)

    from simple_query_engine_spark.session import get_spark
    from simple_query_engine_spark.sources.catalog import load_tables

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="sqe-explain-dump")
    queries = entrymod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1
    for df in load_tables(spark, sf_dir).values():
        df.cache().count()
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
