"""Operator catalog.

Each submodule exposes ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → equivalent DuckDB SQL, or absent for
non-SQL-expressible operators).  ``__spark_entry__.py`` merges them into the
driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def all_queries() -> dict[str, QueryFn]:
    """Every module's ``QUERIES``, merged in ``_modules()`` order."""
    merged: dict[str, QueryFn] = {}
    for module in _modules():
        merged.update(module.QUERIES)
    return merged


def all_oracles() -> dict[str, str]:
    """Every module's ``ORACLES``, merged in ``_modules()`` order."""
    merged: dict[str, str] = {}
    for module in _modules():
        merged.update(module.ORACLES)
    return merged


def _modules():
    from simple_query_engine_spark.operators import (
        curation,
        dedup,
        dml,
        multimodal,
        parity,
        quality,
        relational,
        pipeline,
        relational2,
        relational3,
        relational4,
        replq,
        sessions,
        similarity,
        storage,
        streaming_ops,
        text,
        tpch,
        udx,
    )

    return (
        parity,
        relational,
        relational2,
        relational3,
        relational4,
        sessions,
        tpch,
        text,
        dedup,
        similarity,
        storage,
        streaming_ops,
        multimodal,
        pipeline,
        curation,
        quality,
        udx,
        dml,
        replq,
    )
