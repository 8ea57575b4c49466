"""Measured skew evidence for SCALING.md — two experiments on a
hot-keyed copy of lineitem (HOT_FRACTION of rows rewritten to ONE key),
amplified fact tables, local[N]:

**Join skew** (lineitem ⋈ orders, broadcast disabled): three variants —
AQE skew-join on, off, and the salted join.  Finding at local scale: the
hot partition's sort-merge cost stays BELOW the pipeline's noise floor
(a ~10M-row single-task sort is ~2 s against a ~4 s scan+join+agg), and
AQE's skew-splitting overhead is visible instead — evidence that the
salting dial is for the 100 TB regime (a hot partition that exceeds
executor memory), not something local benches can surface.

**Window skew** (running sum over the hot key): windows CANNOT be split
— one partition is one task by semantics, so the hot key serializes
~half the table through one core.  Measured: ~10× wall-time penalty,
fully recovered by the salted two-phase reduction (the
sample_stratified / pipeline_token_quota pattern).  This is the
experiment that actually demonstrates the dial.

Writes SKEW_STRESS.json.  Usage: python tools/skew_stress.py [sf_dir] [amplify]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

HOT_FRACTION = 0.5
SALT_BUCKETS = 8
TWO_PHASE_SALTS = 32


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from simple_query_engine_spark.functions.joins import salted_join
    from simple_query_engine_spark.session import get_spark
    from simple_query_engine_spark.sources.catalog import table
    from tools.amplify_testdata import ensure_amplified

    spark = get_spark(app_name="skew-stress")
    if amplify > 1:
        sf_dir = ensure_amplified(spark, sf_dir, amplify)

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hot_key = orders.select(F.min("o_orderkey")).first()[0]
    mod = int(round(1 / HOT_FRACTION))
    lineitem = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn(
            "o_orderkey",
            F.when(
                F.pmod(F.col("l_orderkey"), F.lit(mod)) == 0, F.lit(hot_key)
            ).otherwise(F.col("l_orderkey")),
        )
    )
    n_rows = lineitem.cache().count()
    orders.cache().count()

    def timed(df) -> float:
        df.write.mode("overwrite").format("noop").save()  # codegen warm-up
        start = time.time()
        df.write.mode("overwrite").format("noop").save()
        return round(time.time() - start, 2)

    # ---- experiment 1: join skew --------------------------------------
    def join_agg(joined):
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )

    join_results = {}
    for label, skew_join, salted in [
        ("plain_aqe_skewjoin", True, False),
        ("plain_no_mitigation", False, False),
        ("salted_no_aqe", False, True),
    ]:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", "true" if skew_join else "false"
        )
        try:
            joined = (
                salted_join(
                    lineitem,
                    orders,
                    "o_orderkey",
                    salt_buckets=SALT_BUCKETS,
                    # Salt on the ORIGINAL per-row-varying key: the hot
                    # rows share o_orderkey by construction, so salting on
                    # it would collapse the hot key into ≤ |linenumber|
                    # buckets instead of SALT_BUCKETS.
                    salt_cols=["l_orderkey", "l_linenumber"],
                )
                if salted
                else lineitem.join(orders, "o_orderkey")
            )
            join_results[label] = timed(join_agg(joined))
            print(f"join/{label}: {join_results[label]}s")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # ---- experiment 2: window skew ------------------------------------
    w = Window.partitionBy("o_orderkey").orderBy(
        "l_linenumber", "l_orderkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    one_phase = (
        lineitem.select("o_orderkey", F.sum("l_quantity").over(w).alias("run_qty"))
        .groupBy("o_orderkey")
        .agg(F.max("run_qty").alias("total_qty"))
    )
    two_phase = (
        lineitem.groupBy(
            "o_orderkey",
            F.pmod(
                F.xxhash64("l_orderkey", "l_linenumber"), F.lit(TWO_PHASE_SALTS)
            ).alias("_salt"),
        )
        .agg(F.sum("l_quantity").alias("partial"))
        .groupBy("o_orderkey")
        .agg(F.round(F.sum("partial"), 2).alias("total_qty"))
    )
    window_results = {
        "one_phase_window": timed(one_phase),
        "two_phase_salted": timed(two_phase),
    }
    for k, v in window_results.items():
        print(f"window/{k}: {v}s")
    # The two formulations must agree on the reduction they share —
    # checked Spark-side (a full-outer join counting divergent keys), so
    # no re-execution ships millions of rows to the driver.
    one_r = one_phase.select(
        "o_orderkey", F.round("total_qty", 2).alias("one_total")
    )
    divergent = (
        one_r.join(two_phase, "o_orderkey", "full_outer")
        .filter(
            F.col("one_total").isNull()
            | F.col("total_qty").isNull()
            | (F.col("one_total") != F.col("total_qty"))
        )
        .count()
    )
    assert divergent == 0, f"{divergent} keys diverge between the formulations"

    payload = {
        "sf_dir": sf_dir,
        "amplify": amplify,
        "lineitem_rows": n_rows,
        "hot_fraction": HOT_FRACTION,
        "salt_buckets": SALT_BUCKETS,
        "two_phase_salts": TWO_PHASE_SALTS,
        "cpus": spark.sparkContext.defaultParallelism,
        "join_skew_sec": join_results,
        "window_skew_sec": window_results,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SKEW_STRESS.json",
    )
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
