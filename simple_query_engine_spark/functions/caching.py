"""Session reuse registry: one routine behind every session-scoped reuse.

A typical analytics session loads one corpus and runs many queries
against it, so several operators keep an expensive intermediate
(shingle tables, LSH signature/bucket tables, trained centroids) for the
session.  The engine reuses results in four ways:

- **session cache** (:func:`session_cache`): ``df.cache()`` — keeps the
  rows, leaves the logical plan in place;
- **session materialization** (:func:`session_materialize`): write the
  rows to parquet under the scratch root and scan them back — keeps the
  rows AND cuts the lineage (:func:`cut_lineage`, the same step that
  truncates each connected-components round);
- **staged copy** (``storage.staged_path`` + ``storage.materialize_once``):
  a derived on-disk layout that outlives a query and is shared across
  processes (the date-partitioned events, the bucketed join sides, the
  staged stream replays, the cc standing state).  ``staged_path`` keys it
  by the resolved sf_dir, its source tables' size and mtime and a caller
  tag, places it under the scratch root, reaps its older generations and
  touches it on use, so the root's TTL sweep reclaims only unused copies;
  ``materialize_once`` builds it race-safely.  Not session state, so not
  in this registry;
- **query-scoped persist**: a ``persist``/``unpersist`` pair that lives
  and dies inside one operator call (``ManagedTable.merge``, the
  streaming sinks, the ``std`` labels in ``streaming_ops``, the edge
  list of ``dedup._propagate_labels``) — stays at its call site, as
  does the REPL's cache of its one CSV.

The first two share one registry routine, :func:`_reuse`, with one
eviction rule: a call tagged with ``sf_dir`` X first releases EVERY entry
of BOTH kinds tagged with another dir, so the working set is always one
scale dir wide.  Within a dir, a key whose plan is unchanged serves the
existing handle; a key whose plan changed (e.g. a scratch-table path
baked into the lineage) releases the old blocks or files and rebuilds.

Assumes queries run sequentially in a session (the harness does);
concurrent queries over different scale dirs would evict each other.
"""

from __future__ import annotations

import os
import shutil
import warnings

from py4j.protocol import Py4JError

from pyspark.sql import DataFrame

# key -> (sf_dir, cached handle)
_TRACKED: dict[str, tuple[str, DataFrame]] = {}
# key -> (sf_dir, plan handle for sameSemantics, path, read-back handle)
_MATERIALIZED: dict[str, tuple[str, DataFrame, str, DataFrame]] = {}


def _unpersist_quietly(handle: DataFrame) -> None:
    """Unpersist, tolerating a handle whose SparkSession has been stopped
    and recreated within the same Python process (the module-level
    registry outlives sessions)."""
    try:
        handle.unpersist()
    except (Py4JError, AttributeError):
        # Stale handle from a stopped session — the py4j gateway call
        # fails (Py4JError and subclasses) or an internal ref is already
        # torn down (AttributeError); nothing left to release.
        pass
    except Exception as exc:
        # A GENUINE unpersist failure (e.g. an interrupted job) must not
        # poison the registry, but it must not vanish either.
        warnings.warn(
            f"unpersist of a tracked session cache failed: {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )


def _path(entry: tuple) -> str | None:
    """A materialized entry's parquet path; a cached entry has none."""
    return entry[2] if len(entry) == 4 else None


def _release(registry: dict, key: str) -> None:
    """Drop ``key`` from ``registry`` BEFORE releasing what it holds, so
    a failing release can never leave a dead entry behind."""
    entry = registry.pop(key)
    path = _path(entry)
    if path is None:
        _unpersist_quietly(entry[1])
    else:
        shutil.rmtree(path, ignore_errors=True)


def _live(entry: tuple, df: DataFrame) -> bool:
    """Whether ``entry`` can serve ``df``: same plan, a live session, and
    (materialized) the files still exist — a session outliving
    ``SQE_SCRATCH_TTL_SEC`` can have a later sweep reclaim them (ADVICE
    r17).  A served entry's mkdtemp dir, the swept unit, ages from its
    last USE."""
    try:
        if not df.sameSemantics(entry[1]):
            return False
    except Exception:
        return False  # stale handle from a stopped session
    path = _path(entry)
    if path is None:
        return True
    if not os.path.exists(path):
        return False
    try:
        os.utime(os.path.dirname(path), None)
    except OSError:
        pass
    return True


def _reuse(registry: dict, df: DataFrame, sf_dir: str, key: str, build) -> DataFrame:
    """The one registry routine: evict other dirs' entries of both kinds,
    serve a live same-plan entry, else release it and store
    ``(sf_dir, *build())``.  The served handle is an entry's last field."""
    for reg in (_TRACKED, _MATERIALIZED):
        for other_key, entry in list(reg.items()):
            if entry[0] != sf_dir:
                _release(reg, other_key)
    prior = registry.get(key)
    if prior is not None:
        if _live(prior, df):
            return prior[-1]
        _release(registry, key)
    entry = (sf_dir, *build())
    registry[key] = entry
    return entry[-1]


def cut_lineage(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to parquet at ``path`` and scan it back with
    ``df.schema`` pinned (the plan's exact types, no footer inference).
    Plans built on the result start from a scan LEAF, so Spark's eager
    analysis no longer re-walks the upstream plan."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def session_cache(df: DataFrame, sf_dir: str, key: str) -> DataFrame:
    """Cache ``df`` for the session under ``key`` (see module docstring
    for the eviction rule)."""
    return _reuse(_TRACKED, df, sf_dir, key, lambda: (df.cache(),))


def session_materialize(df: DataFrame, sf_dir: str, key: str) -> DataFrame:
    """Like :func:`session_cache`, but :func:`cut_lineage` ``df`` into a
    fresh ``scratch_dir`` and return the scan of its files.

    Why this exists next to ``session_cache``: caching serves the rows
    but leaves the full LOGICAL plan in place, and Spark's classic-mode
    eager analysis re-walks it on every transformation built on top —
    a wide plan such as the planted minhash signature table pays that
    re-analysis in every consumer query (see ``dedup._planted_sig``).
    Each build writes under a fresh ``mkdtemp`` dir, so nothing is ever
    served across processes."""
    from simple_query_engine_spark.operators.storage import scratch_dir

    def build() -> tuple[DataFrame, str, DataFrame]:
        path = os.path.join(scratch_dir(df.sparkSession, "mat_"), key)
        return df, path, cut_lineage(df, path)

    return _reuse(_MATERIALIZED, df, sf_dir, key, build)


def evict_all() -> None:
    """Release every entry of both kinds (test hook / explicit reset)."""
    for registry in (_TRACKED, _MATERIALIZED):
        for key in list(registry):
            _release(registry, key)
