"""Measure managed-table DML cost at 1× vs 32× table size (VERDICT r12 item 6).

AMPLIFIED_BENCH covers the query catalog, but the managed-table layer's
scale claims — copy-on-write rewrite cost ∝ AFFECTED files, merge cost ∝
batch (plus a column-pruned key probe over the table) — had no amplified
measurement.  This probe builds the same orders-keyed managed table at 1×
and 32× with a FIXED per-file row count (so the 32× table has 32× more
files of the same size — how a real table grows), then times:

- ``delete_narrow``: DELETE of one fixed key range that lives in ~one
  range-partitioned file at EITHER scale.  The claim: wall stays flat,
  because only the affected file is rewritten; the 32× table's extra
  files are carried by manifest reference, never read or written.
- ``merge_fixed_batch``: MERGE of a fixed ~2.5k-row source (half updates
  on one file's key range, half inserts on fresh keys).  The claim: the
  rewrite/insert half is flat; the two key probes (affected-file semi
  join + insert anti join) scan one pruned column of the table and grow
  with it — sub-linear overall.

Both scales run back-to-back in one process so the host's fast/slow phase
mostly cancels; the 1× legs double as the calibration.  Writes
DML_SCALE.json; the SCALING.md "Managed table" section quotes it.

Usage: python tools/dml_scale_probe.py [sf_dir] [k]   (defaults sf0.1, 32)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ROWS_PER_FILE = 37_500  # fixed file size: n_files grows linearly with k
DELETE_LO, DELETE_HI = 1, 1_500  # replica-0 keys: present at every k
UPDATE_LO, UPDATE_HI = 2_000, 3_000
INSERT_KEY_BASE = 10**15  # far above any replica's shifted key space


def build_table(spark: SparkSession, src_dir: str, path: str):
    from simple_query_engine_spark.sources.catalog import table
    from simple_query_engine_spark.sources.managed import ManagedTable

    orders = table(spark, src_dir, "orders")
    n_rows = orders.count()
    n_files = max(1, n_rows // ROWS_PER_FILE)
    t0 = time.time()
    t = ManagedTable.create(
        spark, path, orders.repartitionByRange(n_files, "o_orderkey")
    )
    create_sec = time.time() - t0
    return t, n_rows, len(t._files(0)), create_sec


def probe_scale(
    spark: SparkSession, src_dir: str, label: str, stats: bool
) -> dict:
    """One leg.  ``stats=False`` stubs out the per-file stats every
    write records, so the leg's merge probes read every file."""
    from simple_query_engine_spark.sources.managed import ManagedTable

    collect = ManagedTable.__dict__["_collect_file_stats"]
    if not stats:
        ManagedTable._collect_file_stats = lambda *args: {}
    root = tempfile.mkdtemp(prefix=f"sqe_dml_scale_{label}_")
    out: dict = {"label": label}
    try:
        t, n_rows, n_files, create_sec = build_table(
            spark, src_dir, os.path.join(root, "orders_t")
        )
        out.update(rows=n_rows, files=n_files, create_sec=round(create_sec, 2))

        before = set(t._files(t.current_version()))
        t0 = time.time()
        t.delete_where(F.col("o_orderkey").between(DELETE_LO, DELETE_HI))
        out["delete_sec"] = round(time.time() - t0, 2)
        after = set(t._files(t.current_version()))
        out["delete_files_rewritten"] = len(before - after)

        base = t.read()
        updates = base.filter(
            F.col("o_orderkey").between(UPDATE_LO, UPDATE_HI)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
        inserts = base.orderBy("o_orderkey").limit(1_250).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(INSERT_KEY_BASE)
        )
        source = updates.unionByName(inserts)
        out["merge_batch_rows"] = source.count()
        before = set(t._files(t.current_version()))
        t0 = time.time()
        t.merge(
            source,
            on="o_orderkey",
            update_assignments={"o_totalprice": F.col("s.o_totalprice")},
        )
        out["merge_sec"] = round(time.time() - t0, 2)
        after = set(t._files(t.current_version()))
        out["merge_files_rewritten"] = len(before - after)
        out["merge_files_added"] = len(after - before)
        out["merge_probe_files"] = t.last_merge_probe
    finally:
        ManagedTable._collect_file_stats = collect
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from amplify_testdata import ensure_amplified

    from simple_query_engine_spark.session import get_spark

    spark = get_spark(app_name="dml-scale-probe")
    amplified = ensure_amplified(spark, sf_dir, k)

    result = {
        "sf_dir": sf_dir,
        "k": k,
        # plain = per-file stats stubbed out (unpruned full-key merge
        # probes); stats = per-file o_orderkey min/max recorded at every
        # write and the merge probes pruned to box-hit files.
        "scales": [
            probe_scale(spark, sf_dir, "1x_plain", stats=False),
            probe_scale(spark, amplified, f"{k}x_plain", stats=False),
            probe_scale(spark, sf_dir, "1x_stats", stats=True),
            probe_scale(spark, amplified, f"{k}x_stats", stats=True),
        ],
    }
    by = {s["label"]: s for s in result["scales"]}
    for mode in ("plain", "stats"):
        one, many = by[f"1x_{mode}"], by[f"{k}x_{mode}"]
        result[f"delete_wall_ratio_{mode}"] = round(
            many["delete_sec"] / one["delete_sec"], 2
        )
        result[f"merge_wall_ratio_{mode}"] = round(
            many["merge_sec"] / one["merge_sec"], 2
        )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(repo, "DML_SCALE.json")
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result, indent=1))
    print(f"wrote {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
