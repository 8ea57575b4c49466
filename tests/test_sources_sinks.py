"""Source/sink round-trips: CSV inference parity semantics, partitioned
parquet writes with pruning on re-read, JSON."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_query_engine_spark.sources.readers import read_csv, read_json, read_parquet
from simple_query_engine_spark.sources.sinks import write_csv, write_json, write_parquet


def plan_of(df) -> str:
    import contextlib
    import io

    buffer = io.StringIO()
    with contextlib.redirect_stdout(buffer):
        df.explain("formatted")
    return buffer.getvalue()


def test_csv_header_and_inference(spark, tmp_path):
    csv = tmp_path / "data.csv"
    csv.write_text("name,qty,price\nwidget,3,1.5\ngadget,7,2.25\n")
    df = read_csv(spark, str(csv))
    dtypes = dict(df.dtypes)
    assert dtypes == {"name": "string", "qty": "int", "price": "double"}
    assert df.count() == 2


def test_csv_failfast_on_malformed(spark, tmp_path):
    csv = tmp_path / "bad.csv"
    # Second row has too many fields — the reference errors on malformed
    # rows (src/table.rs:59); FAILFAST reproduces that contract.
    csv.write_text("a,b\n1,2\n3,4,5\n")
    with pytest.raises(Exception):
        read_csv(spark, str(csv)).collect()


def test_partitioned_parquet_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    write_parquet(orders, out, partition_by=["o_orderstatus"], target_files=2)
    back = read_parquet(spark, out)
    assert back.count() == orders.count()
    # Partition pruning: filtering the partition key must hit PartitionFilters.
    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "O").count()


def test_json_roundtrip(spark, sf_dir, tmp_path):
    nation = read_parquet(spark, f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    out = str(tmp_path / "nation_json")
    write_json(nation, out)
    back = read_json(spark, out)
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in nation.collect()
    }


def test_csv_write_read_roundtrip(spark, sf_dir, tmp_path):
    region = read_parquet(spark, f"{sf_dir}/region.parquet")
    out = str(tmp_path / "region_csv")
    write_csv(region, out)
    back = read_csv(spark, out)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in region.collect()
    )


def test_csv_dialect_payload_bytes_survive(spark, sf_dir):
    """Byte-level proof for one row: the read-back payload equals the
    derivation exactly — embedded comma, doubled-quote escaping, and the
    quoted newline all survive the sink+source roundtrip (the multiLine
    record reassembly the aggregate fingerprints corpus-wide)."""
    from simple_query_engine_spark.operators.storage import (
        q_source_csv_dialect,
        staged_path,
    )

    q_source_csv_dialect(spark, sf_dir).collect()  # ensure materialized
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(staged_path(spark, sf_dir, ("documents",), "csvdialect"))
    )
    row = back.filter("CAST(doc_id AS BIGINT) = 0").collect()[0]
    src = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id = 0"
    ).collect()[0]
    expected = 'pre,"mid" ' + src.text[:20] + ",\ntail"
    assert row.payload == expected
    assert "\n" in row.payload and '"' in row.payload and "," in row.payload


def test_load_tables_views_follow_in_place_regeneration(spark, tmp_path, monkeypatch):
    """Regenerating a table in place must re-point its SQL view at the new
    file generation.  CPython may hand a new handle the id() of a freed
    one; every handle getting the same id simulates that worst case."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_query_engine_spark.sources import catalog

    monkeypatch.setattr(catalog, "id", lambda _obj: 0, raising=False)
    name = "catalog_regen_probe"
    path = tmp_path / f"{name}.parquet"

    def generation(n: int) -> list[int]:
        # A fresh directory with a new part file, as a Spark overwrite does.
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir()
        pq.write_table(pa.table({"k": list(range(n))}), path / f"part-{n}.parquet")
        catalog.load_tables(spark, str(tmp_path), names=(name,))
        return sorted(r.k for r in spark.sql(f"SELECT k FROM {name}").collect())

    assert generation(2) == [0, 1]
    assert generation(5) == [0, 1, 2, 3, 4]
