"""Translate a mini-language :class:`Query` into DataFrame operations.

The whole of the reference's execution module (reference
``src/query_engine.rs:26-132`` — index dispatch, binary searches, row
gathering) collapses to ``df.filter(pred).select(cols)``: Catalyst performs
access-path selection (Parquet min/max/dictionary pushdown replaces the
reference's per-column sorted indexes, SURVEY.md §4) and pipelines
filter-before-project (predicate pushdown + column pruning).

Semantics preserved from the reference:

- filter runs before projection, so filtering on a non-projected column works
  (``src/query_engine.rs:26-33``)
- projecting the same column twice is allowed, output order is the
  user-specified order (``src/query_engine.rs:43-60``)
- a missing column (in projection or filter) is an error naming the column
  (``src/table.rs:138-145``, ``src/query_engine.rs:121``)
- equality returns *all* matching rows — the reference's intended semantics,
  not its index-path bugs at the column minimum (SURVEY.md §2 Note A)
- result ordering is unspecified (SURVEY.md §2 Note B: the reference's
  orderings are access-path artifacts; results are bags)

Declared deviations (SURVEY.md §7.1): literals are typed against the target
column's Spark type rather than per-cell sniffing; a literal that cannot be
cast to the column's type matches nothing (the reference's cross-type
equality is always false; its cross-type ``>`` ordering is a Debug-string
artifact we do not reproduce).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simple_query_engine_spark.minilang.ast import Filter, FilterType, Query


class QueryExecutionError(ValueError):
    """Raised when a query references columns absent from the table."""


def execute(query: Query, df: DataFrame) -> DataFrame:
    """Run ``query`` against ``df`` and return the (lazy) result DataFrame."""
    result = df
    if query.filter is not None:
        result = result.filter(_predicate(query.filter, df))
    for name in query.column_names:
        if name not in df.columns:
            raise QueryExecutionError(f"Column '{name}' not found in the table")
    # One column per name keeps duplicates legal and preserves user order;
    # ``df[name]`` binds through the table in one py4j call.
    return result.select([df[name] for name in query.column_names])


def _predicate(filter_: Filter, df: DataFrame) -> Column:
    if filter_.column_name not in df.columns:
        raise QueryExecutionError(
            f"Column '{filter_.column_name}' not found in the table"
        )
    field = df.schema[filter_.column_name]
    literal = _type_literal(filter_.value, field.dataType)
    if literal is None:
        # Literal not representable in the column's type: cross-type
        # comparison matches nothing (reference: derived PartialEq is false
        # across variants, src/value.rs:4; SURVEY.md §7.1.1).
        return F.lit(False)
    # The typed Python literal goes to the comparison as is: py4j converts
    # it exactly as ``F.lit`` would, and ``_type_literal`` has already
    # fixed its type.
    column = df[filter_.column_name]
    if filter_.filter_type is FilterType.GREATER:
        return column > literal
    return column == literal


# Python's int()/float()/Decimal() accept forms the declared literal
# grammar does not: '1_2' (group separators), 'nan'/'inf', '+5', leading/
# trailing whitespace.  Those must fall through to the match-nothing path,
# so numeric literals are validated against a strict digits-only shape
# first (optional leading '-', optional fraction/exponent for floats).
# re.ASCII: \d must mean [0-9] only — Unicode digits ('١٢') would slip
# through to int()/float(), which happily parse them.
_INT_LITERAL = re.compile(r"-?\d+\Z", re.ASCII)
_FLOAT_LITERAL = re.compile(r"-?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?\Z", re.ASCII)


def _type_literal(text: str, data_type: T.DataType):
    """Parse the raw literal under the column's type; None if unrepresentable."""
    try:
        if isinstance(data_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(text) if _INT_LITERAL.fullmatch(text) else None
        if isinstance(data_type, (T.FloatType, T.DoubleType)):
            return float(text) if _FLOAT_LITERAL.fullmatch(text) else None
        if isinstance(data_type, T.DecimalType):
            from decimal import Decimal

            if not _FLOAT_LITERAL.fullmatch(text):
                return None
            return Decimal(text)
        if isinstance(data_type, T.BooleanType):
            lowered = text.lower()
            if lowered in ("true", "false"):
                return lowered == "true"
            return None
        if isinstance(data_type, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            import datetime as dt

            if isinstance(data_type, T.DateType):
                return dt.date.fromisoformat(text)
            return dt.datetime.fromisoformat(text)
        if isinstance(data_type, T.StringType):
            return text
    except (ValueError, ArithmeticError):
        return None
    return None  # complex types (array/map/struct) are not comparable here
