"""Managed tables: snapshot-versioned DML over immutable Parquet files.

The reference dataset is immutable after load (reference ``src/main.rs:29-30``
— no CREATE/INSERT/UPDATE/DELETE anywhere in its grammar), so this layer is a
pure extension: the mutation surface a lake engine (Delta/Iceberg-style)
builds on top of Spark, re-implemented here with nothing but Parquet files
and JSON manifests.

Design — the three disciplines that make DML work at 100 TB:

- **Immutable data files + manifest snapshots.**  A table is a directory of
  Parquet files plus a ``_manifests/v<N>.json`` chain; each manifest lists
  exactly the files that make up that version.  Readers resolve a manifest
  once and scan only its files — writers never modify a file in place, so
  readers are isolated from concurrent commits for free (snapshot
  isolation), and any historical version stays readable (time travel).
- **Copy-on-write at file granularity.**  DELETE/UPDATE/MERGE first find
  which files actually contain affected rows (a metadata-cheap scan of the
  match predicate over ``_metadata.file_path``), rewrite ONLY those files,
  and carry every untouched file into the new manifest by reference.  A
  predicate touching 0.1% of a 100 TB table rewrites ~0.1% of its files;
  the other 99.9% move as manifest strings.
- **Atomic commit by manifest rename.**  A commit is: write data files,
  then create ``v<N>.json`` with O_EXCL.  Two racing writers both targeting
  version N — one wins, one gets ``TableVersionConflict`` and retries on
  the new snapshot (optimistic concurrency).  On an object store the
  equivalent is a conditional PUT or a metastore CAS; the protocol is the
  same.

Everything heavy is a plain DataFrame write — Catalyst plans the rewrite,
AQE sizes the shuffle, and no row ever passes through the driver.

A table directory holds only ``_manifests/`` and ``data/``.  Per-run
scratch — a merge's materialized source — lives under the engine's one
scratch root (``storage.scratch_dir``), whose age-gated sweep reclaims
whatever a crashed run strands, so the table layer decides nothing about
where scratch lives.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

# The column types whose Parquet footer min/max every write records.
_INT_TYPES = (ByteType, ShortType, IntegerType, LongType)


class TableVersionConflict(RuntimeError):
    """Another writer committed this version first — reread and retry."""


class ManagedTable:
    """A snapshot-versioned Parquet table supporting INSERT / DELETE /
    UPDATE / MERGE with copy-on-write rewrites and time-travel reads."""

    def __init__(self, spark: SparkSession, path: str):
        # The layer lists and links with local ``os`` calls, so a URI
        # would half-work: ``abspath("hdfs://nn/t")`` is
        # ``<cwd>/hdfs:/nn/t``, a local tree posing as the remote table.
        if "://" in path:
            raise ValueError(
                f"managed table path {path!r}: must be a local or locally "
                "mounted path, not a URI"
            )
        self.spark = spark
        # Absolute from the start: manifests record the paths
        # _write_data_files produces, and copy-on-write subtracts the
        # _metadata.file_path-derived affected set (always absolute) from
        # them by string equality.  A relative table path would make that
        # subtraction never match — rewrites would then carry BOTH the
        # original and rewritten files, silently duplicating/undeleting
        # rows — and vacuum's ownership prefix would turn cwd-dependent.
        self.path = os.path.abspath(path)
        self._manifest_dir = os.path.join(self.path, "_manifests")

    # -- creation / versions -------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame) -> "ManagedTable":
        """Materialize ``df`` as version 0 of a new managed table.

        Like every data write (create/insert/rewrite/merge/compact), the
        commit records per-file min/max of the table's integer columns,
        lifted from the footers just written (``_collect_file_stats``);
        ``merge`` and ``scan_box`` prune files by them."""
        table = cls(spark, path)
        if table.versions():
            raise ValueError(f"managed table already exists at {path}")
        files = table._write_data_files(df)
        table._commit(
            0,
            files,
            schema=df.schema,
            op="create",
            new_stats=table._collect_file_stats(files, df.schema),
        )
        return table

    def versions(self) -> list[int]:
        if not os.path.isdir(self._manifest_dir):
            return []
        out = []
        for name in os.listdir(self._manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def current_version(self) -> int:
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(f"no managed table at {self.path}")
        return versions[-1]

    # -- read ----------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table as of ``version`` (default: latest snapshot).

        The scan is planned FROM the schema the manifest records — files
        written before an evolution lack the added columns and the
        Parquet reader fills them with NULL; no per-file footer merging
        ever happens at planning time (``mergeSchema`` over 800 k files
        reads 800 k footers on the driver — the manifest read is one JSON).
        Time travel composes: an old version's manifest carries the schema
        the table had THEN."""
        v = self.current_version() if version is None else version
        files = self._files(v)
        schema = self._schema(v)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self._read_files(files, schema)

    def _read_files(self, files: list[str], schema) -> DataFrame:
        return self.spark.read.schema(schema).parquet(*files)

    # -- mutations (each commits one new version) ----------------------------

    def insert(
        self, df: DataFrame, evolve_schema: bool = False, txn=None
    ) -> int:
        """Append rows — new files only, no existing file touched.

        The batch must carry every current column at its exact type
        (silently writing a divergent schema would poison later reads).
        Extra columns raise unless ``evolve_schema=True``, in which case
        they are APPENDED to the table schema as nullable columns — the
        new manifest records the widened schema, old data files stay
        untouched and read as NULL for the added columns, and prior
        versions keep (and time-travel-read with) the old schema.

        ``txn=(app, batch_id)`` stamps the commit with an idempotence
        token exactly like :meth:`merge` — the streaming-append sink's
        exactly-once handle (``stream_ivf_ingest``): a replayed batch
        checks ``last_txn`` and skips."""
        base = self.current_version()
        base_schema = self._schema(base)
        base_fields = {f.name: f for f in base_schema.fields}
        batch_fields = {f.name: f for f in df.schema.fields}
        missing = [n for n in base_fields if n not in batch_fields]
        if missing:
            raise ValueError(f"insert batch missing table columns {missing}")
        for name, field in batch_fields.items():
            if name in base_fields and field.dataType != base_fields[name].dataType:
                raise ValueError(
                    f"insert batch column {name!r} is {field.dataType}, "
                    f"table has {base_fields[name].dataType}"
                )
        extra = [f for f in df.schema.fields if f.name not in base_fields]
        if extra and not evolve_schema:
            raise ValueError(
                f"insert batch adds columns {[f.name for f in extra]}; "
                "pass evolve_schema=True to widen the table schema"
            )
        new_schema = StructType(
            list(base_schema.fields)
            + [StructField(f.name, f.dataType, nullable=True) for f in extra]
        )
        ordered = df.select(*[f.name for f in new_schema.fields])
        new_files = self._write_data_files(ordered)
        return self._commit(
            base + 1,
            self._files(base) + new_files,
            schema=new_schema,
            txn=txn,
            op="insert",
            new_stats=self._collect_file_stats(new_files, new_schema),
        )

    ZORDER_BITS = 8  # per-dimension grid for z-order compaction

    def compact(
        self,
        target_files: int | None = None,
        min_file_bytes: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: bin-pack small data files into fewer, larger ones —
        optionally Z-ORDER clustered (the Delta/Iceberg ``OPTIMIZE ZORDER
        BY`` pairing with the data-skipping read path below).

        Only files smaller than ``min_file_bytes`` (default: every file)
        are rewritten — the incremental small-file compaction a lake
        engine runs continuously after streaming/trickle inserts;
        already-large files carry into the new manifest by reference, so
        rewrite cost tracks the small-file backlog, not the table size.
        Without ``zorder_by`` the merged rows are ``coalesce()``d — a
        merge-only plan, NO shuffle — into ``target_files`` files
        (default: one per 128 MB of small-file bytes).  Rows are
        bit-identical before and after (oracle-pinned via
        ``dml_compact_files``); prior snapshots keep their original
        files, so time travel is unaffected.

        With ``zorder_by=[col, ...]`` the rewritten rows are clustered
        along the Morton curve over those (numeric) columns — ONE range
        shuffle (``repartitionByRange`` on the interleaved z-value +
        ``sortWithinPartitions``, exactly what OPTIMIZE ZORDER plans) —
        and the integer columns' per-file min/max stats, recorded like at
        every write, become tight boxes.  ``scan_box`` then
        prunes files whose stat boxes miss a query's box predicate: the
        z-curve keeps every dimension's range tight within each file, so
        a 2-D box touches few files — multi-dimensional data skipping,
        the complement of 1-D partition pruning.  The normalization
        bounds come from a 1-row min/max aggregate of the rewritten rows
        (at production scale: table stats) — bounds only shape cell
        assignment, never correctness.

        File sizes come from the filesystem here; on an object store they
        would be recorded in the manifest at write time (one more field,
        same protocol).  Returns the committed version, or the current
        one unchanged when ≤ 1 file qualifies (no empty commits)."""
        base = self.current_version()
        files = self._files(base)
        sizes = {f: os.path.getsize(f) for f in files}
        small = [
            f for f in files if min_file_bytes is None or sizes[f] < min_file_bytes
        ]
        if len(small) <= 1:
            return base
        small_bytes = sum(sizes[f] for f in small)
        n = target_files or max(1, -(-small_bytes // (128 << 20)))
        schema = self._schema(base)
        merged = self._read_files(small, schema)
        if zorder_by:
            new_files = self._write_data_files(self._zorder(merged, zorder_by, n))
        else:
            new_files = self._write_data_files(merged.coalesce(n))
        small_set = set(small)
        untouched = [f for f in files if f not in small_set]
        return self._commit(
            base + 1,
            untouched + new_files,
            op="compact",
            new_stats=self._collect_file_stats(new_files, schema),
        )

    def _zorder(self, df: DataFrame, columns: list[str], n_files: int) -> DataFrame:
        from simple_query_engine_spark.functions.zorder import z_bucket, z_interleave

        bounds = df.agg(
            *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(columns)],
            *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(columns)],
        ).collect()[0]
        buckets = []
        for i, c in enumerate(columns):
            lo, hi = bounds[f"lo_{i}"], bounds[f"hi_{i}"]
            if lo is None or hi is None:
                raise ValueError(f"zorder_by column {c!r} is entirely NULL")
            buckets.append(z_bucket(F.col(c), lo, hi, self.ZORDER_BITS))
        return (
            df.withColumn("__z", z_interleave(buckets, self.ZORDER_BITS))
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )

    @classmethod
    def _collect_file_stats(cls, files: list[str], schema) -> dict[str, dict]:
        """Per-file [min, max] of every top-level integer column of
        ``schema`` over just-written ``files``, lifted on the driver from
        their Parquet footers — zero Spark jobs (a production writer's
        stats come from the write itself).  Only integral footer min/max
        are exact by the Parquet spec: binary (string) stats may be
        writer-truncated and float/double stats are unreliable under NaN,
        so other columns get no entry and are never pruned on."""
        stats = cls._footer_file_stats(files, schema, schema.fieldNames())
        return {f: s for f, s in stats.items() if s}

    @staticmethod
    def _footer_file_stats(
        files: list[str], schema, columns: list[str]
    ) -> dict[str, dict]:
        """Exact per-file [min, max] for the integral ``columns`` straight
        from local Parquet footers, equal to a per-file Spark min/max
        aggregate: empty files get no entry and all-NULL columns get
        [None, None].  Every non-empty file gets an entry; a column that
        is non-integral, or whose footer in that file lacks usable
        statistics, is left out of that file's entry only."""
        import pyarrow.parquet as pq

        fields = {f.name: f for f in schema.fields}
        columns = [
            c
            for c in columns
            if c in fields and isinstance(fields[c].dataType, _INT_TYPES)
        ]
        out: dict[str, dict] = {}
        for path in files:
            md = pq.read_metadata(path)
            if md.num_rows == 0:
                continue
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            fstats: dict[str, list] = {}
            for c in columns:
                if c not in idx:
                    continue
                lo = hi = None
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx[c]).statistics
                    if st is None or (st.num_values and not st.has_min_max):
                        break
                    if st.num_values == 0:
                        continue  # all-NULL row group contributes nothing
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                else:
                    fstats[c] = [lo, hi]
            out[path] = fstats
        return out

    # -- data-skipping reads --------------------------------------------------

    def matching_files(
        self, ranges: dict[str, tuple], version: int | None = None
    ) -> tuple[list[str], int]:
        """(files whose stat boxes overlap the conjunctive box ``ranges``,
        total file count).  ``ranges`` maps column → (lo, hi); either
        bound may be None (open).  Files without recorded stats for a
        column are kept — pruning is an optimization, never a filter."""
        v = self.current_version() if version is None else version
        manifest = self._manifest(v)
        stats = manifest.get("stats", {})
        kept = []
        for f in manifest["files"]:
            fstats = stats.get(f, {})
            keep = True
            for col, (lo, hi) in ranges.items():
                if col not in fstats:
                    continue
                mn, mx = fstats[col]
                if mn is None or mx is None:
                    continue  # all-NULL file for this column: cannot prune
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    keep = False
                    break
            if keep:
                kept.append(f)
        return kept, len(manifest["files"])

    def scan_box(
        self, ranges: dict[str, tuple], version: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Box-predicate read with file-level data skipping: returns
        (DataFrame of exactly the rows inside the box, files read, total
        files).  The residual filter always applies — stats only decide
        which files are OPENED, so results are exact whether or not any
        file was skippable."""
        v = self.current_version() if version is None else version
        kept, total = self.matching_files(ranges, v)
        schema = self._schema(v)
        condition = F.lit(True)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                condition = condition & (F.col(col) >= F.lit(lo))
            if hi is not None:
                condition = condition & (F.col(col) <= F.lit(hi))
        if not kept:
            return self.spark.createDataFrame([], schema), 0, total
        return self._read_files(kept, schema).filter(condition), len(kept), total

    def clone_shallow(self, dest_path: str) -> "ManagedTable":
        """SHALLOW CLONE: a new table whose version-0 manifest REFERENCES
        the source's current data files — zero bytes copied, metadata
        only (the Delta ``CREATE TABLE ... SHALLOW CLONE`` contract).
        Because data files are immutable and mutations are copy-on-write,
        the clone and the source diverge safely from the shared start:
        either side's mutations rewrite into its OWN data directory and
        its own manifest chain; the shared files are never touched.
        At 100 TB a clone is one manifest write — the instant
        dev/test/experiment sandbox over production data.

        Caveat (same as Delta's): the clone's snapshot depends on the
        source not VACUUMING the shared files away; production systems
        track cross-table references or deep-clone before source GC."""
        clone = ManagedTable(self.spark, dest_path)
        if clone.versions():
            raise ValueError(f"managed table already exists at {dest_path}")
        base = self.current_version()
        clone._commit(
            0,
            list(self._files(base)),
            schema=self._schema(base),
            op="clone",
            new_stats=self._manifest(base).get("stats"),
        )
        return clone

    def restore(self, version: int) -> int:
        """RESTORE TABLE to an earlier snapshot — committed as a NEW
        version whose file list is the target snapshot's (the Delta
        RESTORE contract: history moves forward, nothing is erased, so
        the mistake AND the recovery both stay auditable and
        time-travelable).  Metadata-only: file paths are re-referenced,
        zero data movement."""
        if version not in self.versions():
            raise ValueError(
                f"cannot restore to version {version} "
                f"(available: {self.versions()})"
            )
        base = self.current_version()
        return self._commit(
            base + 1,
            list(self._files(version)),
            schema=self._schema(version),
            op="restore",
            new_stats=self._manifest(version).get("stats"),
        )

    def delete_where(self, condition: Column) -> int:
        """Delete matching rows by rewriting only the files that hold them.

        SQL DELETE semantics: a row is deleted only where the predicate is
        TRUE; rows where it evaluates NULL survive.  The keep-filter is
        therefore ``NOT coalesce(condition, FALSE)`` — a bare
        ``filter(~condition)`` would drop NULL-predicate rows from
        rewritten files while identical rows in untouched files survive,
        making deletion depend on physical file placement."""
        keep = ~F.coalesce(condition, F.lit(False))
        return self._rewrite(condition, lambda df: df.filter(keep), "delete")

    def update(self, condition: Column, assignments: dict[str, Column]) -> int:
        """Set ``assignments`` on matching rows; untouched files carry over."""

        def apply(df: DataFrame) -> DataFrame:
            return df.withColumns(
                {
                    name: F.when(condition, expr).otherwise(F.col(name))
                    for name, expr in assignments.items()
                }
            )

        return self._rewrite(condition, apply, "update")

    def vacuum(self, retain_versions: int = 2) -> list[str]:
        """Garbage-collect data files referenced ONLY by expired versions.

        Keeps the newest ``retain_versions`` snapshots readable (time
        travel inside the retention window is untouched); every data file
        referenced by no retained manifest is deleted and the expired
        manifests are removed, so time travel beyond retention fails
        loudly at the manifest read instead of half-reading missing files.
        Pure driver-side metadata work — file paths, never rows; at 100 TB
        the set arithmetic is over ~10⁵-10⁶ path strings (the same scale
        as the manifests themselves) and deletes batch to the object
        store.  Returns the deleted file paths (the audit log a production
        vacuum writes).  ``retain_versions < 1`` is rejected — a table
        must keep its current snapshot.

        OWNERSHIP: only files under THIS table's own data directory are
        ever removed (the Delta contract — VACUUM is scoped to the table's
        directory).  A shallow clone's manifests reference files that live
        under the SOURCE table's path; those are borrowed, not owned, so
        the clone's vacuum must never delete them even when the clone's
        own expired manifests are the only remaining references here."""
        if retain_versions < 1:
            raise ValueError(f"retain_versions must be >= 1, got {retain_versions}")
        self._sweep_stale_temps()
        versions = self.versions()
        expired = versions[:-retain_versions]
        if not expired:
            return []
        retained_files = {
            f for v in versions[-retain_versions:] for f in self._files(v)
        }
        own_data_dir = os.path.join(os.path.abspath(self.path), "data") + os.sep
        doomed = sorted(
            f
            for f in {f for v in expired for f in self._files(v)} - retained_files
            if os.path.abspath(f).startswith(own_data_dir)
        )
        # Files first, manifests last: a crash mid-vacuum leaves an expired
        # manifest pointing at missing files — rerunning vacuum finishes
        # the job — never a retained manifest with a deleted file.
        for path in doomed:
            if os.path.exists(path):
                os.remove(path)
        for v in expired:
            os.remove(os.path.join(self._manifest_dir, f"v{v:05d}.json"))
        return doomed

    # Temp manifests older than this are presumed abandoned.  A commit
    # holds its temp for milliseconds, so an hour is conservative by
    # orders of magnitude.
    _STALE_TMP_SEC = 3600

    def _sweep_stale_temps(self) -> None:
        """Reclaim temp manifests a crashed commit strands.

        A writer that dies between ``os.link`` and the ``finally``'s
        ``os.unlink`` strands a ``v*.json.tmp.<hex>`` in ``_manifests``:
        ``versions()`` ignores it, but nothing else ever removes it, so
        vacuum — the table's janitor — sweeps it.  The sweep is AGE-GATED
        (mtime older than ``_STALE_TMP_SEC``) so an in-flight commit's
        temp is never yanked out from under its owner."""
        import time

        if not os.path.isdir(self._manifest_dir):
            return
        cutoff = time.time() - self._STALE_TMP_SEC
        for name in os.listdir(self._manifest_dir):
            if ".json.tmp." not in name:
                continue
            p = os.path.join(self._manifest_dir, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.remove(p)
            except FileNotFoundError:
                pass  # another vacuum or the owner got there first

    def changes(self, from_version: int, to_version: int) -> DataFrame:
        """Change feed between two snapshots: one row per inserted /
        deleted row, tagged ``_change_op`` ('insert' | 'delete'); an
        UPDATE surfaces as delete + insert (row-granularity CDC without
        row ids, the relational contract downstream consumers replay).

        The scale lever is MANIFEST PRUNING: data files are immutable, so
        a file present in both manifests cannot contribute a change — only
        the symmetric difference of the two file lists is read and
        diffed.  A mutation that rewrote 0.1% of a 100 TB table yields a
        change scan over ~200 GB (dropped + replacement files), not two
        100 TB snapshot reads; the ``exceptAll`` pair then shuffles only
        those rows.  Rows that merely MOVED between files (compaction)
        cancel out in the diff and produce no change rows — compaction is
        invisible to the feed, exactly as it is to readers."""
        if from_version not in self.versions() or to_version not in self.versions():
            raise ValueError(
                f"versions {from_version}..{to_version} not all readable "
                f"(available: {self.versions()})"
            )
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version} — a "
                "reversed range would silently swap insert/delete labels"
            )
        old_files = set(self._files(from_version))
        new_files = set(self._files(to_version))
        # Columns evolve append-only; diff in the OLD schema so a pure
        # ADD COLUMN produces no phantom changes for untouched rows.
        schema = self._schema(from_version)
        cols = [f.name for f in schema.fields]

        def side(files: set[str]) -> DataFrame:
            if not files:
                return self.read(to_version).select(*cols).limit(0)
            return self._read_files(sorted(files), schema).select(*cols)

        dropped = side(old_files - new_files)
        added = side(new_files - old_files)
        return added.exceptAll(dropped).withColumn(
            "_change_op", F.lit("insert")
        ).unionByName(
            dropped.exceptAll(added).withColumn("_change_op", F.lit("delete"))
        )

    def merge(
        self,
        source: DataFrame,
        on: str,
        update_assignments: dict[str, Column] | None = None,
        insert_not_matched: bool = True,
        txn: tuple[str, int] | None = None,
        materialize_source: bool = True,
    ) -> int:
        """Upsert ``source`` by equality on key column ``on``.

        Matched target rows get ``update_assignments`` — expressions
        evaluated in the joined scope, where the target is aliased ``t``
        and the source ``s`` (e.g. ``{"bal": F.col("s.bal")}``); unmatched
        source rows are appended when ``insert_not_matched``.  One commit —
        rewritten match-files plus appended insert-files land in the same
        manifest, so readers never observe a half-applied merge.

        A merge is two passes over the candidate files: one probe collect
        (affected files plus the duplicate check), then one write of the
        update rewrite unioned with the inserts.

        Three SQL/Delta-parity disciplines:

        - The source is MATERIALIZED once (parquet in a per-run
          ``scratch_dir``, whose age-gated sweep reclaims a crashed
          merge's copy) before any of the reads that consume it — a
          non-deterministic source would otherwise present different rows
          to the probe (affected files and duplicate check), the update
          join and the insert anti-join, losing or duplicating rows
          (Delta materializes the merge source for exactly this reason).
          Callers who KNOW their source is deterministic (a plain file
          scan, a change feed) can pass ``materialize_source=False`` to
          skip the extra write+read; correctness is then the caller's
          assertion, which is why the safe default stays True.
        - Duplicate source keys are an error only when they MATCH a
          target row (multiple updates of one target row are ambiguous);
          duplicates that match nothing — including NULL keys, which
          never equal anything — all flow to WHEN NOT MATCHED inserts.
          The check rides on the affected-file probe, so it costs no job
          of its own.
        - The source's overlapping columns must carry the table's exact
          types, and the rewritten projection is re-checked against the
          table schema — silently writing divergent types under a
          manifest that says otherwise would poison every later read
          (the ``insert`` contract, enforced here too).
        """
        import shutil

        base = self.current_version()
        base_schema = self._schema(base)
        target_cols = [f.name for f in base_schema.fields]
        base_fields = {f.name: f for f in base_schema.fields}
        if update_assignments:
            unknown = [n for n in update_assignments if n not in base_fields]
            if unknown:
                raise ValueError(
                    f"merge update_assignments reference unknown columns {unknown}"
                )
        for f in source.schema.fields:
            tgt = base_fields.get(f.name)
            if tgt is not None and f.dataType != tgt.dataType:
                raise ValueError(
                    f"merge source column {f.name!r} is {f.dataType}, "
                    f"table has {tgt.dataType}"
                )

        from simple_query_engine_spark.functions.caching import cut_lineage
        from simple_query_engine_spark.operators.storage import scratch_dir

        scratch = None
        scratch_files: list[str] = []
        try:
            if materialize_source:
                scratch = scratch_dir(self.spark, "merge_src_")
                copy = os.path.join(scratch, "src")
                source = cut_lineage(source, copy)
                scratch_files = sorted(
                    os.path.join(copy, name)
                    for name in os.listdir(copy)
                    if name.endswith(".parquet")
                )
            # Key-range file pruning (the Delta data-skipping shape): a
            # target row can only MATCH a source key that actually occurs
            # in the batch, so when the manifest carries stats for the
            # merge key, both passes below — the probe and the insert
            # anti-join — read ONLY the files whose recorded [min, max] key
            # box CONTAINS some source key.
            # Two stages: the span filter ([src_min, src_max] overlap) is
            # driver-side manifest arithmetic, but a realistic CDC batch
            # mixes low-range updates with high-range inserts and its span
            # covers everything — so the survivors' boxes (file-count-
            # sized, the manifest's own scale) are refined by a broadcast
            # range semi-join against the batch's distinct keys.  Exact by
            # construction: keys in pruned files cannot equal any source
            # key; files without usable stats are never pruned.  (At
            # extreme file counts the box join would bucket boxes by key
            # range instead of nested-looping them; file-count ≪ row-count
            # makes the plain form right here.)  At scale this is what
            # makes merge ∝ batch instead of ∝ table: measured 32× table
            # growth at fixed batch, unpruned probes cost 2.3× wall vs
            # flat pruned (DML_SCALE.json carries the before/after).
            all_files = self._files(base)
            candidates = all_files
            stats = self._manifest(base).get("stats", {})
            if any(on in s for s in stats.values()):
                # The batch's key span: a materialized source just wrote
                # its rows to local scratch Parquet, so for integral keys
                # the exact [min, max] is already in the scratch FOOTERS —
                # lifted on the driver, no Spark job.  A non-materialized
                # source, or a footer without key stats, keeps the one-job
                # aggregate.
                b_lo = b_hi = None
                probed = False
                if scratch_files:
                    fst = self._footer_file_stats(
                        scratch_files, source.schema, [on]
                    )
                    if all(on in v for v in fst.values()):
                        los = [v[on][0] for v in fst.values() if v[on][0] is not None]
                        his = [v[on][1] for v in fst.values() if v[on][1] is not None]
                        b_lo = min(los) if los else None
                        b_hi = max(his) if his else None
                        probed = True
                if not probed:
                    b = source.agg(
                        F.min(on).alias("lo"), F.max(on).alias("hi")
                    ).first()
                    b_lo, b_hi = b["lo"], b["hi"]
                span = (
                    self.matching_files({on: (b_lo, b_hi)}, base)[0]
                    if b_lo is not None
                    else []
                )
                if b_lo is None:
                    candidates = []  # every source key NULL: nothing matches
                elif len(span) <= 4:
                    # Refinement saves nothing when the span is already a
                    # handful of files: the per-key box join is itself a
                    # Spark job, while the downstream probes read ≤ 4
                    # files anyway.  Large spans (the at-scale case) keep
                    # the exact per-key refinement below.
                    candidates = span
                else:
                    boxed = [
                        f
                        for f in span
                        if on in stats.get(f, {})
                        and stats[f][on][0] is not None
                        and stats[f][on][1] is not None
                    ]
                    boxed_set = set(boxed)
                    unboxed_set = {f for f in span if f not in boxed_set}
                    key_type = base_fields[on].dataType
                    boxes = self.spark.createDataFrame(
                        [(f, stats[f][on][0], stats[f][on][1]) for f in boxed],
                        StructType(
                            [
                                StructField("__file", StringType()),
                                StructField("__lo", key_type),
                                StructField("__hi", key_type),
                            ]
                        ),
                    )
                    # Boxes broadcast (file-count-sized, like the manifest);
                    # the batch's keys stream past them.
                    hits = (
                        source.select(on)
                        .distinct()
                        .filter(F.col(on).isNotNull())
                        .join(
                            F.broadcast(boxes),
                            (F.col(on) >= F.col("__lo"))
                            & (F.col(on) <= F.col("__hi")),
                            "inner",
                        )
                        .select("__file")
                        .distinct()
                    )
                    hit_files = {r["__file"] for r in hits.collect()}
                    candidates = [
                        f for f in span if f in hit_files or f in unboxed_set
                    ]
            self.last_merge_probe = {
                "candidate_files": len(candidates),
                "total_files": len(all_files),
            }
            # Pass 1, the probe: the candidate files' (key, file) pairs
            # inner-join the source's per-key row counts and group by file.
            # One collect of at most file-count rows names the affected
            # files and, per file, the largest source multiplicity among
            # its matched keys with a witness key.  Only the key column
            # and the file path of the candidate files are read.
            affected: list[str] = []
            if candidates:
                counts = (
                    source.filter(F.col(on).isNotNull())
                    .groupBy(on)
                    .agg(F.count(F.lit(1)).alias("__n"))
                )
                probe = (
                    self._with_file_path(base, candidates)
                    .select(on, "file_path")
                    .join(counts, on, "inner")
                    .groupBy("file_path")
                    .agg(F.max("__n").alias("__n"), F.max_by(on, "__n").alias("__key"))
                    .collect()
                )
                # SQL MERGE semantics: more than one source row per MATCHED
                # target key is an error, not a silent fan-out of the
                # matched target rows.  Duplicates that match nothing are
                # not in the probe.
                dup = max(probe, key=lambda r: r["__n"], default=None)
                if dup is not None and dup["__n"] > 1:
                    raise ValueError(
                        f"merge source has multiple rows for matched key "
                        f"{on}={dup['__key']!r}"
                    )
                affected = sorted(self._local_path(r["file_path"]) for r in probe)

            # Pass 2, the write: the update rewrite of the affected files
            # and the not-matched inserts, unioned into ONE job — the
            # change feed diffs ROWS over the file symmetric difference,
            # so which new file carries which branch is irrelevant.
            branches: list[DataFrame] = []
            if affected:
                # __matched marks source presence explicitly: probing a
                # data column would misread legitimately-NULL values as
                # "no match".
                matched = F.col("s.__matched").isNotNull()
                projected = (
                    self._read_files(affected, base_schema)
                    .alias("t")
                    .join(
                        source.withColumn("__matched", F.lit(True)).alias("s"),
                        F.col(f"t.{on}") == F.col(f"s.{on}"),
                        "left",
                    )
                    .select(
                        *[
                            (
                                F.when(matched, update_assignments[name])
                                .otherwise(F.col(f"t.{name}"))
                                .alias(name)
                                if update_assignments and name in update_assignments
                                else F.col(f"t.{name}").alias(name)
                            )
                            for name in target_cols
                        ]
                    )
                )
                self._check_merge_schema(projected, base_schema, "update")
                branches.append(projected)

            if insert_not_matched:
                # The candidate files hold every table key that can equal a
                # source key: a key outside them lies outside every source
                # key's file box.
                inserts = source
                if candidates:
                    inserts = inserts.join(
                        self._read_files(candidates, base_schema).select(on),
                        on,
                        "left_anti",
                    )
                inserts = inserts.select(*target_cols)
                self._check_merge_schema(inserts, base_schema, "insert")
                branches.append(inserts)

            new_files: list[str] = []
            if branches:
                combined = branches[0]
                for b_df in branches[1:]:
                    combined = combined.unionByName(b_df)
                new_files = self._write_data_files(combined)

            affected_set = set(affected)
            untouched = [f for f in self._files(base) if f not in affected_set]
            return self._commit(
                base + 1,
                untouched + new_files,
                txn=txn,
                op="merge",
                new_stats=self._collect_file_stats(new_files, base_schema),
            )
        finally:
            if scratch is not None:
                shutil.rmtree(scratch, ignore_errors=True)

    @staticmethod
    def _check_merge_schema(df: DataFrame, base_schema, ctx: str) -> None:
        """Raise if ``df``'s column types diverge from the table schema —
        the write would otherwise land files the manifest misdescribes."""
        for got, want in zip(df.schema.fields, base_schema.fields):
            if got.name != want.name or got.dataType != want.dataType:
                raise ValueError(
                    f"merge {ctx} column {got.name!r} is {got.dataType}, "
                    f"table has {want.name!r} {want.dataType}"
                )

    # -- internals -----------------------------------------------------------

    def _rewrite(self, condition: Column, transform, op: str) -> int:
        base = self.current_version()
        schema = self._schema(base)
        affected = self._affected_files(self._with_file_path(base).filter(condition))
        new_files: list[str] = []
        if affected:
            # Schema-aware read: after a schema evolution the affected set
            # can mix file eras; inferring from one sampled footer would
            # silently drop evolved columns from the rewritten rows.
            new_files = self._write_data_files(
                transform(self._read_files(affected, schema))
            )
        affected_set = set(affected)
        untouched = [f for f in self._files(base) if f not in affected_set]
        return self._commit(
            base + 1,
            untouched + new_files,
            op=op,
            new_stats=self._collect_file_stats(new_files, schema),
        )

    def _with_file_path(self, version: int, files: list[str] | None = None) -> DataFrame:
        if files is None:
            files = self._files(version)
        if not files:
            return self.read(version).withColumn("file_path", F.lit(None).cast("string"))
        return self._read_files(files, self._schema(version)).withColumn(
            "file_path", F.col("_metadata.file_path")
        )

    @staticmethod
    def _local_path(p: str) -> str:
        """Normalize a ``_metadata.file_path`` value back to manifest form
        (the column yields ``file:`` URIs on a local filesystem)."""
        from urllib.parse import unquote, urlparse

        parsed = urlparse(p)
        return unquote(parsed.path) if parsed.scheme == "file" else p

    def _affected_files(self, matching_rows: DataFrame) -> list[str]:
        """The distinct data files holding ``matching_rows`` — only file
        PATHS cross to the driver (bounded by file count, never row
        count)."""
        return sorted(
            self._local_path(row.file_path)
            for row in matching_rows.select("file_path").distinct().collect()
            if row.file_path is not None
        )

    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Write ``df`` as immutable Parquet files; return their paths."""
        subdir = os.path.join(self.path, "data", uuid.uuid4().hex)
        df.write.parquet(subdir)
        return sorted(
            os.path.join(subdir, name)
            for name in os.listdir(subdir)
            if name.endswith(".parquet")
        )

    def _commit(
        self,
        version: int,
        files: list[str],
        schema=None,
        txn=None,
        op: str = "write",
        new_stats: dict[str, dict] | None = None,
    ) -> int:
        """Atomically publish ``version``.  The manifest records the
        snapshot's schema: passed explicitly by schema-changing commits
        (create, evolving insert), carried forward from the base manifest
        by every other mutation — so each version is self-describing and
        time travel reads with the schema of its era.

        ``txn=(app, batch)`` stamps an idempotence token (the Delta
        ``txn`` appId/version pattern): the manifest's ``txns`` map is the
        PREVIOUS version's map plus this entry, so the CURRENT manifest
        always carries every app's latest batch — ``last_txn`` needs one
        manifest read, and vacuuming expired manifests cannot lose the
        exactly-once history.

        Per-file stats ride the same protocol: stats for files CARRIED
        from the previous manifest carry with them (immutable files keep
        immutable stats); ``new_stats`` adds the entries every data write
        collects for the files it wrote (``_collect_file_stats``).  Files
        without stats are simply never pruned."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        if schema is None and version > 0:
            schema = self._schema(version - 1)
        txns = dict(self._manifest(version - 1).get("txns", {})) if version > 0 else {}
        if txn is not None:
            app, batch = txn
            txns[app] = batch
        file_set = set(files)
        prev_stats = (
            self._manifest(version - 1).get("stats", {}) if version > 0 else {}
        )
        stats = {f: s for f, s in prev_stats.items() if f in file_set}
        if new_stats:
            stats.update({f: s for f, s in new_stats.items() if f in file_set})
        payload = {"version": version, "files": files, "op": op}
        if stats:
            payload["stats"] = stats
        if txns:
            payload["txns"] = txns
        payload["schema"] = schema.json()
        manifest = os.path.join(self._manifest_dir, f"v{version:05d}.json")
        # Write-temp-then-link = the commit point.  Streaming json.dump
        # into the final name would make a half-written manifest visible
        # as the latest version (readers crash on it; retrying writers
        # see a permanent conflict).  The payload lands fully in a temp
        # file first; os.link publishes it atomically, and exactly one
        # writer can link a given version name — losers see the conflict
        # and retry against the new snapshot.
        tmp = manifest + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, manifest)
        except FileExistsError:
            raise TableVersionConflict(
                f"version {version} of {self.path} was committed concurrently"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one entry per retained snapshot —
        ``{"version", "op", "n_files"}`` straight from the manifests (no
        data files are read; counts and other metrics are the caller's
        choice to compute).  Manifests written before the ``op`` field
        report ``"write"``."""
        out = []
        for v in self.versions():
            m = self._manifest(v)
            out.append(
                {
                    "version": v,
                    "op": m.get("op", "write"),
                    "n_files": len(m["files"]),
                }
            )
        return out

    def _manifest(self, version: int) -> dict:
        manifest = os.path.join(self._manifest_dir, f"v{version:05d}.json")
        with open(manifest) as fh:
            return json.load(fh)

    def _files(self, version: int) -> list[str]:
        return self._manifest(version)["files"]

    def last_txn(self, app: str):
        """The latest batch id committed under ``app``, or None — the
        streaming-sink side of exactly-once: a foreachBatch handler skips
        any batch id ≤ this (its effects are already in the snapshot)."""
        return self._manifest(self.current_version()).get("txns", {}).get(app)

    def _schema(self, version: int):
        """The schema the manifest records for ``version``."""
        return StructType.fromJson(json.loads(self._manifest(version)["schema"]))
