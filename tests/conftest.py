from __future__ import annotations

import os

import pytest

from simple_query_engine_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    warehouse = tempfile.mkdtemp(prefix="sqe_warehouse_")
    spark = get_spark(
        app_name="sqe-spark-tests",
        master="local[4]",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from simple_query_engine_spark.sources.catalog import load_tables

    return load_tables(spark, sf_dir)


