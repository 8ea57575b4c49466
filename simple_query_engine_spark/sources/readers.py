"""Source connectors.

The reference supports exactly one source: a whole-file CSV read with
header-as-schema and per-cell type sniffing (reference ``src/table.rs:87-136``).
Spark's CSV reader with ``header`` + ``inferSchema`` subsumes that (strictly
wider inference: long/double/timestamp/boolean, SURVEY.md §2.1 op #2);
``mode=FAILFAST`` reproduces the reference's error-out-on-malformed-row
contract (``src/table.rs:59``).  Parquet is the extension source the
testdata and the 100 TB design point actually use, read with Spark's own
reader (catalog handles: ``sources/catalog.py``) — columnar Parquet scans
give Catalyst the pushdown the reference approximated with its per-column
sorted indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession,
    path: str,
    infer_schema: bool = True,
    fail_fast: bool = True,
) -> DataFrame:
    """CSV with header; reference-parity load semantics (op #1/#2)."""
    reader = (
        spark.read.option("header", True)
        .option("inferSchema", infer_schema)
        .option("enforceSchema", False)
    )
    if fail_fast:
        reader = reader.option("mode", "FAILFAST")
    return reader.csv(path)
