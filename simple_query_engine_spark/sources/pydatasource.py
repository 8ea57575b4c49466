"""Custom connector via the Python Data Source API (Spark 4).

The reference engine has exactly one source — a CSV file loaded whole
into memory (reference ``src/table.rs:87-109``, ``src/main.rs:27-29``).
Spark's extension point for "a source the built-ins don't cover" is the
Python Data Source API (``pyspark.sql.datasource``): a pure-Python
connector that still gets the full distributed treatment — the driver
plans one :class:`InputPartition` per split, every executor calls
``read(partition)`` independently, and supported predicates are *pushed
into the connector* before a single row is produced.

``ReadingsDataSource`` is a deterministic synthetic "sensor readings"
connector built on that API.  It exists to prove the plumbing, so it is
designed for verifiability end-to-end:

- **Deterministic rows.** Row ``i`` is a pure function of ``i`` (no RNG,
  no clock), so an independent engine can regenerate the exact table —
  the DuckDB oracle rebuilds it from ``range()`` with the same closed
  forms and the gate hash-matches values.
- **Partition-parallel.** ``partitions()`` splits the id range into
  ``numPartitions`` contiguous slices; each executor generates its slice
  vectorized (numpy → one Arrow RecordBatch per 64k rows).  At 100 TB
  this is the shape that matters: no driver-side row generation, no
  skew (slices are equal width), and Arrow batches avoid per-row Python.
- **Real predicate pushdown.** ``pushFilters`` absorbs range predicates
  on ``reading_id`` (``>`` ``>=`` ``<`` ``<=`` ``=``) by *narrowing the
  generated id range* — the connector-side analogue of parquet row-group
  pruning: filtered-out rows are never materialized anywhere.  Filters
  it cannot handle (e.g. on ``kind``) are returned to Spark, which
  evaluates them post-scan — the documented cooperative contract.

Row formulas (shared with the DuckDB oracle in ``operators/storage.py``
— keep in sync):

    reading_id = i
    sensor_id  = i % 97
    kind       = ('temp', 'humidity', 'pressure')[i % 3]
    reading    = ((i * 37) % 1000) / 10.0
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import DataFrame
from pyspark.sql.session import SparkSession

READINGS_SCHEMA_DDL = (
    "reading_id BIGINT, sensor_id BIGINT, kind STRING, reading DOUBLE"
)
KINDS = ("temp", "humidity", "pressure")
_BATCH_ROWS = 65536


@dataclass
class _IdSlice(InputPartition):
    """One contiguous [start, end) slice of the reading_id range."""

    start: int
    end: int


def _generate_batch(start: int, end: int):
    """Vectorized generation of rows [start, end) as one Arrow batch."""
    import numpy as np
    import pyarrow as pa

    ids = np.arange(start, end, dtype=np.int64)
    kinds = np.array(KINDS)[ids % 3]
    return pa.record_batch(
        [
            pa.array(ids, type=pa.int64()),
            pa.array(ids % 97, type=pa.int64()),
            pa.array(kinds, type=pa.string()),
            pa.array(((ids * 37) % 1000) / 10.0, type=pa.float64()),
        ],
        names=["reading_id", "sensor_id", "kind", "reading"],
    )


def _slices(lo: int, hi: int, n: int) -> list[_IdSlice]:
    """[lo, hi) as at most ``n`` contiguous slices whose widths differ by
    at most one (no skew); an empty range plans one empty slice."""
    n = max(1, n)
    width, extra = divmod(max(0, hi - lo), n)
    slices, cursor = [], lo
    for i in range(n):
        step = width + (1 if i < extra else 0)
        if step == 0:
            break
        slices.append(_IdSlice(cursor, cursor + step))
        cursor += step
    return slices or [_IdSlice(lo, lo)]


class _SliceReader:
    """The executor half both readers share: one slice as Arrow batches."""

    def read(self, partition: _IdSlice):
        for start in range(partition.start, partition.end, _BATCH_ROWS):
            yield _generate_batch(start, min(start + _BATCH_ROWS, partition.end))


class ReadingsReader(_SliceReader, DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.lo = 0
        self.hi = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("numPartitions", 8))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb reading_id range predicates into [lo, hi); yield the rest.

        Yielded filters are re-evaluated by Spark after the scan, so
        declining a filter is always safe — absorbing one is the
        optimization.  IsNotNull is absorbed on any column (the generator
        never produces nulls).
        """
        for f in filters:
            if isinstance(f, IsNotNull):
                continue
            if getattr(f, "attribute", None) == ("reading_id",):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, f.value + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, f.value)
                    self.hi = min(self.hi, f.value + 1)
                    continue
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        return _slices(self.lo, self.hi, self.num_partitions)


class ReadingsStreamReader(_SliceReader, DataSourceStreamReader):
    """Micro-batch stream over the same deterministic readings.

    The executor-parallel streaming variant (NOT the driver-side
    ``SimpleDataSourceStreamReader`` prototype path): the driver only
    tracks offsets — ``{"next": <first unread id>}`` — and plans the same
    equal-width :class:`_IdSlice` partitions per micro-batch; executors
    run the same Arrow-vectorized ``read``.  Offsets are ABSOLUTE
    (``latestOffset`` reports how much of the source currently exists,
    never a cursor relative to this reader instance), which is what makes
    restart exact: a resumed query plans ``(committed, latest)`` and
    re-generates nothing before ``committed``.  Exactly-once across a
    stop + more-data + restart cycle is pinned in
    tests/test_pydatasource.py.
    """

    def __init__(self, options: dict) -> None:
        self.total = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("numPartitions", 8))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def latestOffset(self) -> dict:
        return {"next": self.total}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["next"], end["next"]
        if hi < lo:
            # Fail fast on an offset regression (the Kafka-source
            # discipline): silently planning an empty batch would let
            # Spark COMMIT the regressed offset, and a later growth of
            # the source would replay ids below the original commit —
            # duplicates under the exactly-once contract.
            raise ValueError(
                f"offset regression: latest {hi} < committed {lo} — the "
                "configured source shrank (rows option lowered?); refusing "
                "to rewind a committed offset"
            )
        return _slices(lo, hi, self.num_partitions)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — the generator has no retained state


class ReadingsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sqe_readings"

    def schema(self) -> str:
        return READINGS_SCHEMA_DDL

    def reader(self, schema) -> ReadingsReader:
        return ReadingsReader(self.options)

    def streamReader(self, schema) -> ReadingsStreamReader:
        return ReadingsStreamReader(self.options)


@dataclass
class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the file this task produced (or None for
    an empty partition) and its row count."""

    filename: str | None
    rows: int


class ManifestParquetWriter(DataSourceArrowWriter):
    """Batch sink with the two-phase commit protocol custom sinks need.

    Spark's writer contract is exactly-once-by-manifest: every task
    writes its Arrow batches to a uniquely named file (task retries and
    speculative duplicates can never collide) and returns a
    :class:`_FileCommit`; only the DRIVER's ``commit`` — called once,
    after every task succeeded — makes the output visible by writing
    ``manifest.json`` (temp + atomic rename).  A crashed or aborted job
    leaves data files but no manifest, so readers (which go through the
    manifest, :func:`read_manifest_parquet`) never observe partial
    output; ``abort`` additionally removes the orphans eagerly.  The
    same shape as the managed-table layer's snapshot commits
    (``sources/managed.py``) — this is the task-level half of that
    protocol, on the public writer API.

    Files are parquet via pyarrow — Arrow batches are written as
    received, no per-row Python.  Paths here are a shared filesystem
    (driver + executors see the same directory); on a cluster this is a
    shared mount or object store, locally it just works.
    """

    def __init__(self, options: dict, schema=None) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("sqe_manifest_parquet requires a save path")
        self.path = path
        self.data_dir = os.path.join(path, "data")
        # Recorded in the manifest so a committed EMPTY write (every
        # partition empty) stays readable — the reader cannot infer a
        # schema from zero files.
        self.schema_json = schema.json() if schema is not None else None

    def write(self, iterator) -> _FileCommit:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        batches = list(iterator)
        rows = sum(b.num_rows for b in batches)
        if rows == 0:
            return _FileCommit(None, 0)
        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        filename = f"part-{part:05d}-{uuid.uuid4().hex}.parquet"
        os.makedirs(self.data_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_batches(batches),
            os.path.join(self.data_dir, filename),
        )
        return _FileCommit(filename, rows)

    def commit(self, messages) -> None:
        files = [m for m in messages if m is not None and m.filename]
        new_entries = [{"name": m.filename, "rows": m.rows} for m in files]
        # APPEND semantics across jobs: a second append to the same path
        # must MERGE with the committed manifest — replacing it would
        # silently orphan every previously committed file (reads through
        # the manifest would drop the first job's rows without any error).
        # The read-merge-write below is NOT atomic on its own: two
        # concurrent appends to the same path would each read the same
        # prior manifest and the second os.replace would orphan the first
        # job's files (lost update).  An exclusive flock on a sidecar
        # serializes the whole merge; the kernel releases it if the
        # committer dies, so no stranded locks (the managed-table layer
        # solves the same problem with O_EXCL version links — here there
        # is no version history, so a lock is the simpler correct tool).
        # flock is advisory + POSIX-local: fine for this sink, whose path
        # contract is already "a shared filesystem mount" (class docs).
        os.makedirs(self.path, exist_ok=True)
        manifest_path = os.path.join(self.path, "manifest.json")
        with open(os.path.join(self.path, ".manifest.lock"), "w") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            prior_files: list[dict] = []
            prior_rows = 0
            if os.path.exists(manifest_path):
                with open(manifest_path) as fh:
                    prior = json.load(fh)
                prior_files = prior.get("files", [])
                prior_rows = prior.get("total_rows", 0)
                prior_schema = prior.get("schema")
                if (
                    prior_schema is not None
                    and self.schema_json is not None
                    and prior_schema != self.schema_json
                ):
                    raise ValueError(
                        "sqe_manifest_parquet append schema differs from the "
                        "committed manifest's schema; write to a fresh dir"
                    )
            manifest = {
                "files": sorted(prior_files + new_entries, key=lambda f: f["name"]),
                "total_rows": prior_rows + sum(m.rows for m in files),
            }
            if self.schema_json is not None:
                manifest["schema"] = self.schema_json
            tmp = os.path.join(self.path, f".manifest.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=1)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, manifest_path)
        # Spark-convention success marker so generic completeness checks
        # (e.g. operators/storage.py::materialize_once) recognize the dir.
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.data_dir, m.filename))
                except FileNotFoundError:
                    pass


class ManifestParquetSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sqe_manifest_parquet"

    def writer(self, schema, overwrite: bool) -> ManifestParquetWriter:
        if overwrite:
            raise NotImplementedError(
                "sqe_manifest_parquet is append-only; write to a fresh dir"
            )
        return ManifestParquetWriter(self.options, schema)


def read_manifest_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read back ONLY the manifest-listed files (never orphans from failed
    or in-flight writers).  A legitimately committed EMPTY write (every
    partition empty) reads back as an empty DataFrame via the manifest's
    recorded schema."""
    with open(os.path.join(path, "manifest.json")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, "data", f["name"]) for f in manifest["files"]]
    if not files:
        raw = manifest.get("schema")
        if raw is None:
            raise ValueError(
                f"empty manifest at {path} and no recorded schema "
                "(written by a pre-schema version of the sink)"
            )
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(json.loads(raw)))
    return spark.read.parquet(*files)


def register_readings_source(spark: SparkSession) -> None:
    """Register the connector (idempotent — re-registration replaces)."""
    spark.dataSource.register(ReadingsDataSource)


def register_manifest_sink(spark: SparkSession) -> None:
    """Register the manifest-committing parquet sink (idempotent)."""
    spark.dataSource.register(ManifestParquetSink)
