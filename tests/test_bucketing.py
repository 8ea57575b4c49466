"""Bucketed co-located join + salted skew join: correctness and the plan
properties that matter at scale (no exchange on bucketed joins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_query_engine_spark.functions.joins import salted_join


def plan_of(df) -> str:
    import contextlib
    import io

    buffer = io.StringIO()
    with contextlib.redirect_stdout(buffer):
        df.explain("formatted")
    return buffer.getvalue()


def test_bucketed_layout_reused_across_processes(spark, sf_dir):
    """The layout path is a deterministic staged path (Python str hash is
    per-process salted), so a second process — simulated here by dropping
    the catalog entries while the files remain — must re-register the
    external tables metadata-only and NOT rewrite a single parquet file."""
    import glob
    import os

    from simple_query_engine_spark.operators.storage import (
        q_join_bucketed_revenue,
        staged_path,
    )

    r1 = sorted(map(tuple, q_join_bucketed_revenue(spark, sf_dir).collect()))
    locs = [
        staged_path(spark, sf_dir, (source,), f"{source}_bkt")
        for source in ("orders", "lineitem")
    ]

    def layout_files():
        return sorted(f for loc in locs for f in glob.glob(f"{loc}/*.parquet"))

    files = layout_files()
    assert len(files) >= 2, locs
    mtimes = [os.path.getmtime(f) for f in files]
    for loc in locs:
        spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(loc).rsplit('_', 1)[0]}")
    r2 = sorted(map(tuple, q_join_bucketed_revenue(spark, sf_dir).collect()))
    assert r2 == r1
    files2 = layout_files()
    assert files2 == files
    assert [os.path.getmtime(f) for f in files2] == mtimes


def test_regenerated_source_reaps_old_bucketed_layout(spark, sf_dir, tmp_path):
    """Regenerating one source (same bytes, new mtime) rebuilds that
    side's bucketed layout and reaps the old one; the other side's
    layout is reused, and the answer is unchanged."""
    import os
    import shutil

    from simple_query_engine_spark.operators.storage import (
        SCRATCH_CONF,
        q_join_bucketed_revenue,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in ("orders", "lineitem"):
        shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), sf / f"{name}.parquet")
    root = tmp_path / "root"
    spark.conf.set(SCRATCH_CONF, str(root))
    try:
        r1 = sorted(map(tuple, q_join_bucketed_revenue(spark, str(sf)).collect()))
        before = set(os.listdir(root))
        lineitem = sf / "lineitem.parquet"
        st = os.stat(lineitem)
        os.utime(lineitem, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        r2 = sorted(map(tuple, q_join_bucketed_revenue(spark, str(sf)).collect()))
        after = set(os.listdir(root))
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert r2 == r1
    old_lineitem = {n for n in before if n.startswith("sqe_stage_lineitem_bkt_")}
    orders = {n for n in before if n.startswith("sqe_stage_orders_bkt_")}
    assert len(old_lineitem) == 1 and len(orders) == 1, before
    assert orders <= after, "untouched source's layout was rebuilt"
    assert not old_lineitem & after, "old bucketed layout left behind"
    assert len({n for n in after if n.startswith("sqe_stage_lineitem_bkt_")}) == 1


def test_salted_join_matches_plain_join(spark, sf_dir):
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    salted = (
        salted_join(lineitem, orders, "o_orderkey", salt_buckets=4)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    plain = (
        lineitem.join(orders, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    """Demonstrate the salt's effect on a genuinely skewed key (the driver
    testdata is uniform, so this fixture manufactures 80% single-key skew):
    the plain hash shuffle concentrates the hot key's rows in ONE reducer
    partition, while the (key, salt) shuffle bounds the max partition near
    1/salt_buckets of that — the difference between one OOMing straggler
    task and ``salt_buckets`` even ones at 100 TB.
    """
    n_hot, n_cold, buckets, parts = 40_000, 10_000, 8, 32
    hot = spark.range(n_hot).select(F.lit(7).alias("k"), F.col("id").alias("v"))
    cold = spark.range(n_cold).select(
        (F.col("id") % 997 + 100).alias("k"), F.col("id").alias("v")
    )
    skewed = hot.unionAll(cold)

    def max_partition_fraction(df, *cols):
        # repartition with an EXPLICIT count = the reducer layout a shuffle
        # join would hash into (and explicit counts disable AQE coalescing).
        counts = (
            df.repartition(parts, *[F.col(c) for c in cols])
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        total = sum(r["count"] for r in counts)
        return max(r["count"] for r in counts) / total

    plain_frac = max_partition_fraction(skewed, "k")
    salted = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64("k", "v"), F.lit(buckets)).cast("int")
    )
    salted_frac = max_partition_fraction(salted, "k", "_salt")
    assert plain_frac >= 0.75, plain_frac  # hot key owns one reducer
    assert salted_frac <= plain_frac / 4, (plain_frac, salted_frac)

    # And the join result on the skewed fixture is salt-invariant.
    small = skewed.select("k").distinct().withColumn("w", F.col("k") * 10)
    via_salt = (
        salted_join(skewed, small, "k", salt_buckets=buckets, salt_cols=["k", "v"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    plain = skewed.join(small, "k").groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    assert sorted(map(tuple, via_salt.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_never_broadcasts(spark, sf_dir):
    """Catalyst's size estimate for the replicated side predates the
    explode, so a large-enough input used to be planned as a broadcast —
    which OOM'd the driver at 64x-amplified sf0.1 (77M-row broadcast
    build).  The merge hint pins the one strategy that survives any
    scale; this would regress silently at small SF without a plan pin."""
    from simple_query_engine_spark.operators.udx import q_join_salted_skew

    df = q_join_salted_skew(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_salted_join_preserves_outer_semantics(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c"), (3, "d")], ["k", "v"])
    right = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    result = salted_join(left, right, "k", salt_buckets=3, how="left")
    rows = sorted(map(tuple, result.select("k", "v", "w").collect()))
    assert rows == [(1, "a", "x"), (1, "b", "x"), (2, "c", "y"), (3, "d", None)]


def test_catalog_bucketed_revenue_consumes_bucketed_scans(spark, sf_dir):
    """The catalog entry reads its persisted bucketed tables (bucket
    metadata visible on the scan) and matches the unbucketed join."""
    from simple_query_engine_spark.operators.storage import (
        q_join_bucketed_revenue,
    )

    previous = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q_join_bucketed_revenue(spark, sf_dir)
        plan = plan_of(df)
        assert "SelectedBucketsCount" in plan
        join_section = plan.split("HashAggregate")[0]
        assert "Exchange hashpartitioning(o_orderkey" not in join_section
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        expected = (
            orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
        )
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", previous)
