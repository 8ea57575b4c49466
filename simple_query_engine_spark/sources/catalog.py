"""Multi-table catalog over a directory of Parquet tables.

The reference is hard-limited to one anonymous table per process (reference
``src/main.rs:20-29``; the grammar has no table names, ``src/query.rs:5-8``).
The natural Spark generalization is a catalog: every ``<name>.parquet`` in a
directory becomes a named temp view, queryable via DataFrame ops or
``spark.sql``.
"""

from __future__ import annotations

import json
import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver's synthetic star schema (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session memo of table HANDLES (lazy plans built from the footer
# schema), keyed by (path, size, mtime_ns) so an in-place regeneration of
# testdata invalidates.  This caches METADATA ONLY — no rows: every query
# still computes from the parquet files; what's skipped is re-listing the
# file and re-reading its footer on every `table()` call.
# WeakKeyDictionary: a stopped/replaced session's handles die with it.
_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
# Per-session marker of which (sf_dir, names) registered temp views last —
# re-registering identical views per query costs a py4j call per table.
_VIEWS: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load each ``<name>.parquet`` under ``sf_dir``; optionally register views.

    Loading is lazy (a DataFrame per table); nothing is scanned until a query
    runs, so "loading" 100 TB of tables is metadata-only.
    """
    tables: dict[str, DataFrame] = {}
    generations = []
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        generation, tables[name] = _read_generation(spark, path)
        generations.append((name, generation))
    if register_views:
        # The marker names each table's file generation: after an in-place
        # regeneration of the same sf_dir, the memo hands back FRESH
        # DataFrames — a marker of (sf_dir, names) alone would keep serving
        # SQL views pinned to the old, possibly deleted file listing.  (A
        # handle's id() is no key: CPython reuses it once the memo drops
        # the old handle.)
        marker = (os.path.abspath(sf_dir), tuple(generations))
        if _VIEWS.get(spark) != marker:
            for name, df in tables.items():
                df.createOrReplaceTempView(name)
            _VIEWS[spark] = marker
    return tables


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single named table from ``sf_dir``."""
    return _read_generation(spark, os.path.join(sf_dir, f"{name}.parquet"))[1]


def _read_generation(spark: SparkSession, path: str) -> tuple[object, DataFrame]:
    """The memoized handle for ``path`` plus the file generation it reads:
    the memo key ``(path, size, mtime_ns)``, or a fresh ``object()`` that
    equals nothing when the file cannot be stat-ed (uncached read)."""
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return object(), _read_uncached(spark, path)
    per_session = _HANDLES.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = _read_uncached(spark, path)
        per_session[key] = df
        # Drop handles for older generations of the same path.
        for other in [k for k in per_session if k[0] == path and k != key]:
            del per_session[other]
    return key, df


def _read_uncached(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read tolerant of TIMESTAMP(NANOS) columns, with its schema
    taken from a footer (:func:`footer_schema`), so it launches no job.

    Spark rejects nanosecond parquet timestamps outright
    (PARQUET_TYPE_ILLEGAL); with ``nanosAsLong`` — an engine-wide session
    default set in ``session._DEFAULT_CONF`` — they surface as epoch-nanos
    LongType, which we convert back to TimestampType (microsecond precision —
    the same truncation DuckDB applies, keeping oracle comparisons exact).
    """
    schema, nanos_cols = footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for col in nanos_cols:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def footer_schema(spark: SparkSession, path: str) -> tuple[StructType, list[str]]:
    """Spark's schema for the Parquet data at ``path`` plus its
    TIMESTAMP(NANOS) column names, built on the driver from one footer.

    ``spark.read.parquet(path)`` infers the same schema, but in a Spark job.
    This reads the footer of the file that inference with ``mergeSchema``
    off picks (``ParquetUtils.inferSchema``) and converts it with Spark's
    own converter under the session's conf (``nanosAsLong``, NTZ
    inference).  Hive-style partition columns live in directory names, not
    in a footer: a batch read given this schema still appends them.  A path
    that is not local, or holds no data file, is left to Spark's inference.
    """
    file = _schema_file(path)
    if file is None:
        return spark.read.parquet(path).schema, []
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hadoop_path = jvm.org.apache.hadoop.fs.Path(file)
    parquet = jvm.org.apache.parquet.hadoop
    meta = parquet.ParquetFileReader.readFooter(state.newHadoopConf(), hadoop_path)
    converters = jvm.org.apache.spark.sql.execution.datasources.parquet
    spark_schema = converters.ParquetFileFormat.readSchemaFromFooter(
        parquet.Footer(hadoop_path, meta),
        converters.ParquetToSparkSchemaConverter(state.conf()),
    )
    # A file source reads every column as nullable.
    schema = StructType.fromJson(json.loads(spark_schema.asNullable().json()))
    # The footer schema's text in one call: iterating its field list from
    # Python would cost round trips per field plus the JVM exception that
    # ends a py4j iterator.
    nanos = _TOP_LEVEL_NANOS.findall(meta.getFileMetaData().getSchema().toString())
    return schema, nanos


# A top-level TIMESTAMP(NANOS) column in Parquet's schema text
# (``MessageType.toString``): two-space indent, repetition, physical type,
# name, logical type, optional field id.  Nested fields sit deeper.
_TOP_LEVEL_NANOS = re.compile(
    r"^  [a-z]+ int64 (.+) \(TIMESTAMP\(NANOS,(?:true|false)\)\)(?: = \d+)?;$",
    re.MULTILINE,
)


_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _schema_file(path: str) -> str | None:
    """The file Spark's schema inference reads for ``path``: a summary file
    if there is one, else the first data file in path order, skipping the
    names Spark's file listing hides."""
    if os.path.isfile(path):
        return path
    leaves = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not _hidden(d)]
        leaves += [os.path.join(dirpath, f) for f in filenames if not _hidden(f)]

    def rank(leaf: str) -> tuple[int, str]:
        name = os.path.basename(leaf)
        kind = _SUMMARY_FILES.index(name) if name in _SUMMARY_FILES else len(_SUMMARY_FILES)
        return kind, leaf

    return min(leaves, key=rank, default=None)


def _hidden(name: str) -> bool:
    """Spark's ``InMemoryFileIndex.shouldFilterOutPathName``."""
    excluded = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return excluded and not name.startswith(_SUMMARY_FILES)
