"""Source/sink round-trips: CSV inference parity semantics, partitioned
parquet writes with pruning on re-read, JSON."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simple_query_engine_spark.sources.readers import read_csv
from simple_query_engine_spark.sources.sinks import write_parquet


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
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    write_parquet(orders, out, partition_by=["o_orderstatus"], target_files=2)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # Partition pruning: filtering the partition key must hit PartitionFilters.
    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "O").count()


def test_json_roundtrip(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    out = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").json(out)
    back = spark.read.json(out)
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in nation.collect()
    }


def test_csv_write_read_roundtrip(spark, sf_dir, tmp_path):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = str(tmp_path / "region_csv")
    region.write.mode("overwrite").option("header", True).csv(out)
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


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_spark_inference(spark, sf_dir, sf):
    """Every catalog table's footer schema is the one Spark's inference
    job finds, nullability included."""
    from simple_query_engine_spark.sources import catalog

    root = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), sf)
    if not os.path.isdir(root):
        pytest.skip(f"no {sf} testdata beside {sf_dir}")
    for name in catalog.TABLE_NAMES:
        path = os.path.join(root, f"{name}.parquet")
        schema, nanos = catalog.footer_schema(spark, path)
        assert schema == spark.read.parquet(path).schema, name
        assert catalog.table(spark, root, name).schema == spark.read.parquet(path).schema
        assert nanos == []


def test_footer_schema_finds_nanos_columns(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_query_engine_spark.sources import catalog

    ts = pa.array([1_700_000_000_123_456_789, None], type=pa.timestamp("ns"))
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": ts, "k": [1, 2]}), path, version="2.6")
    schema, nanos = catalog.footer_schema(spark, path)
    assert nanos == ["ts"]
    assert schema == spark.read.parquet(path).schema
    assert dict(catalog.table(spark, str(tmp_path), "nanos").dtypes) == {
        "ts": "timestamp",
        "k": "bigint",
    }


def test_footer_schema_nanos_columns_are_top_level_only(spark, tmp_path):
    """A nested TIMESTAMP(NANOS) field is not a column to convert; a
    column name with a space and a column carrying a field id are."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_query_engine_spark.sources import catalog

    ts = pa.array([1_700_000_000_123_456_789, None], type=pa.timestamp("ns"))
    schema = pa.schema(
        [
            pa.field("ts", ts.type, metadata={b"PARQUET:field_id": b"7"}),
            pa.field("event ts", ts.type),
            pa.field("s", pa.struct([("inner", ts.type)])),
            pa.field("us", pa.timestamp("us")),
        ]
    )
    path = str(tmp_path / "nested.parquet")
    table = pa.table(
        {
            "ts": ts,
            "event ts": ts,
            "s": pa.StructArray.from_arrays([ts], ["inner"]),
            "us": pa.array([1, 2], type=pa.timestamp("us")),
        },
        schema=schema,
    )
    pq.write_table(table, path, version="2.6")
    assert catalog.footer_schema(spark, path)[1] == ["ts", "event ts"]


# py4j round trips of a cold ``load_tables`` over the ten catalog tables,
# views not registered: 480 at sf0.001 (1,412 while the footer's field
# list was iterated from Python, each iteration ending in a converted JVM
# exception).
_COLD_LOAD_TABLES_ROUND_TRIPS = 528


def test_cold_load_tables_round_trip_budget(spark, sf_dir, tmp_path):
    import shutil

    from tools.round_trips import count_round_trips

    from simple_query_engine_spark.sources import catalog

    for name in catalog.TABLE_NAMES:
        source = os.path.join(sf_dir, f"{name}.parquet")
        target = str(tmp_path / f"{name}.parquet")
        if os.path.isdir(source):
            shutil.copytree(source, target)
        else:
            shutil.copy(source, target)
    with count_round_trips() as calls:
        tables = catalog.load_tables(spark, str(tmp_path), register_views=False)
    assert sorted(tables) == sorted(catalog.TABLE_NAMES)
    assert len(calls) <= _COLD_LOAD_TABLES_ROUND_TRIPS, len(calls)


def test_schema_file_is_the_one_spark_inference_reads(tmp_path):
    from simple_query_engine_spark.sources.catalog import _schema_file

    for name in ("_SUCCESS", ".part-0.parquet.crc", "part-1.parquet", "part-0.parquet"):
        (tmp_path / name).write_bytes(b"")
    assert _schema_file(str(tmp_path)) == str(tmp_path / "part-0.parquet")
    (tmp_path / "_metadata").write_bytes(b"")
    assert _schema_file(str(tmp_path)) == str(tmp_path / "_metadata")
    (tmp_path / "_common_metadata").write_bytes(b"")
    assert _schema_file(str(tmp_path)) == str(tmp_path / "_common_metadata")
    assert _schema_file(str(tmp_path / "part-1.parquet")) == str(tmp_path / "part-1.parquet")
    assert _schema_file(str(tmp_path / "missing")) is None


def test_load_tables_launches_no_job(spark, sf_dir, tmp_path):
    import shutil

    from simple_query_engine_spark.sources import catalog

    # A fresh copy, so no handle is memoized from an earlier test.
    for name in catalog.TABLE_NAMES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        shutil.copy(src, tmp_path / f"{name}.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("load_tables_probe", "load_tables")
    try:
        tables = catalog.load_tables(spark, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tables) == len(catalog.TABLE_NAMES)
    assert list(sc.statusTracker().getJobIdsForGroup("load_tables_probe")) == []
