"""Model-based testing of the managed-table DML engine: random operation
sequences are applied both to a ManagedTable and to a plain in-memory
model; after every step the table's current snapshot must equal the
model, every retained historical version must equal its archived model
state (time travel), and vacuum must never disturb either.

Bounded for Spark's per-job latency (few examples × short sequences);
the per-operation semantics are covered exhaustively by the oracled
catalog entries — THIS test exists to catch interaction bugs between
operations that no single-op test sequences (e.g. compact after a
schema-evolving insert, vacuum mid-chain, delete over compacted files).
"""

from __future__ import annotations

from collections import Counter

import pytest

pytest.importorskip("hypothesis")

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from simple_query_engine_spark.sources.managed import ManagedTable

# Each op is (tag, param) drawn small: ids stay in a tiny universe so
# deletes/updates/merges actually hit rows.
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), st.integers(0, 2)),
        st.tuples(st.just("delete_mod"), st.integers(2, 4)),
        st.tuples(st.just("update_mod"), st.integers(2, 4)),
        st.tuples(st.just("merge"), st.integers(0, 2)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("vacuum"), st.just(0)),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
# A duplicated source key that matches a row is ambiguous: the merge
# raises and the table stays at its version.
@example(ops=[("merge", 1), ("merge_dup", 0), ("compact", 0)])
def test_random_dml_sequences_match_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("mbt") / "t")

    def snapshot(table: ManagedTable, version=None):
        return Counter(
            (r.id, r.val) for r in table.read(version).select("id", "val").collect()
        )

    # Model: the table's (id, val) rows as a multiset, since merges insert
    # NULL ids and unmatched duplicated ids.  Start with ids 0..9,
    # val = id * 10.  A NULL id never satisfies a predicate on id.
    model = [(i, i * 10) for i in range(10)]
    t = ManagedTable.create(spark, path, spark.createDataFrame(model, "id long, val long"))
    next_id = 100
    # history[v] = model state at version v (None once vacuumed away).
    history: dict[int, Counter] = {0: Counter(model)}

    for tag, param in ops:
        if tag == "insert":
            batch = [(next_id + j, (next_id + j) * 10) for j in range(param + 1)]
            next_id += 10
            v = t.insert(spark.createDataFrame(batch, "id long, val long").coalesce(1))
            model += batch
        elif tag == "delete_mod":
            v = t.delete_where(F.col("id") % param == 0)
            model = [(i, val) for i, val in model if i is None or i % param != 0]
        elif tag == "update_mod":
            v = t.update(
                F.col("id") % param == 1, {"val": F.col("val") + F.lit(1)}
            )
            model = [
                (i, val + 1 if i is not None and i % param == 1 else val)
                for i, val in model
            ]
        elif tag == "merge":
            # SQL MERGE: matched rows take the source val; new keys, the
            # NULL key and both rows of the duplicated new key insert.
            present = sorted({i for i, _ in model if i is not None})
            updates = {i: i * 10 + 7 for i in present[param::3][:2]}
            batch = list(updates.items()) + [
                (next_id, next_id * 10),
                (None, next_id * 10 + 1),
                (next_id + 1, next_id * 10 + 2),
                (next_id + 1, next_id * 10 + 3),
            ]
            next_id += 10
            v = t.merge(
                spark.createDataFrame(batch, "id long, val long"),
                on="id",
                update_assignments={"val": F.col("s.val")},
            )
            model = [(i, updates.get(i, val)) for i, val in model] + [
                r for r in batch if r[0] not in updates
            ]
        elif tag == "merge_dup":  # only in the @example: ids 0..9 remain
            hit = min(i for i, _ in model if i is not None)
            before = t.current_version()
            with pytest.raises(ValueError, match="multiple rows for matched key"):
                t.merge(
                    spark.createDataFrame(
                        [(next_id, 1), (hit, 2), (hit, 3)], "id long, val long"
                    ),
                    on="id",
                    update_assignments={"val": F.col("s.val")},
                )
            v = t.current_version()
            assert v == before
        elif tag == "compact":
            v = t.compact(target_files=1)
        else:  # vacuum: drops expired manifests, current state untouched
            doomed_versions = t.versions()[:-2]
            t.vacuum(retain_versions=2)
            for dv in doomed_versions:
                history.pop(dv, None)
            v = t.current_version()
        history[v] = Counter(model)

        assert snapshot(t) == Counter(model), (tag, param)

    # Time travel: every still-retained version reads as its archived
    # model state (vacuum may have trimmed history; versions() is truth).
    for v in t.versions():
        if v in history:
            assert snapshot(t, v) == history[v], f"version {v}"

# Clone/vacuum/restore interaction model: ops run against a SOURCE table
# and (once cloned) its SHALLOW CLONE.  The invariant under model-check is
# the r10 vacuum ownership guard: the clone's manifests reference files
# under the source's path (borrowed, not owned), so CLONE VACUUM must
# never disturb the source — any source snapshot readable before the
# clone's vacuum stays byte-identical after it.  SOURCE vacuum, by the
# documented Delta caveat, MAY strand the clone (shared files GC'd), so
# after a source vacuum the model stops asserting clone contents.
_CLONE_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), st.integers(0, 2)),
        st.tuples(st.just("delete_mod"), st.integers(2, 4)),
        st.tuples(st.just("clone"), st.just(0)),
        st.tuples(st.just("clone_delete"), st.integers(2, 4)),
        st.tuples(st.just("clone_vacuum"), st.just(0)),
        st.tuples(st.just("restore"), st.integers(0, 3)),
        st.tuples(st.just("vacuum"), st.just(0)),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_CLONE_OPS)
def test_random_clone_vacuum_restore_sequences(spark, tmp_path_factory, ops):
    base_dir = tmp_path_factory.mktemp("mbt_clone")
    path = str(base_dir / "src")

    def snapshot(table: ManagedTable, version=None):
        return {
            (r.id, r.val) for r in table.read(version).select("id", "val").collect()
        }

    model = {i: i * 10 for i in range(10)}
    t = ManagedTable.create(
        spark,
        path,
        spark.createDataFrame([(i, v) for i, v in model.items()], "id long, val long"),
    )
    next_id = 100
    history: dict[int, dict] = {0: dict(model)}
    clone: ManagedTable | None = None
    clone_model: dict | None = None
    n_clones = 0

    for tag, param in ops:
        if tag == "insert":
            batch = {next_id + j: (next_id + j) * 10 for j in range(param + 1)}
            next_id += 10
            v = t.insert(
                spark.createDataFrame(
                    [(i, val) for i, val in batch.items()], "id long, val long"
                ).coalesce(1)
            )
            model = {**model, **batch}
            history[v] = dict(model)
        elif tag == "delete_mod":
            v = t.delete_where(F.col("id") % param == 0)
            model = {i: val for i, val in model.items() if i % param != 0}
            history[v] = dict(model)
        elif tag == "clone":
            n_clones += 1
            clone = t.clone_shallow(str(base_dir / f"clone{n_clones}"))
            clone_model = dict(model)
            assert snapshot(clone) == {(i, v) for i, v in clone_model.items()}
        elif tag == "clone_delete":
            if clone_model is None:
                continue
            clone.delete_where(F.col("id") % param == 0)
            clone_model = {
                i: val for i, val in clone_model.items() if i % param != 0
            }
        elif tag == "clone_vacuum":
            if clone_model is None:
                continue
            before = {v: snapshot(t, v) for v in t.versions()}
            clone.vacuum(retain_versions=1)
            # the ownership invariant: every source snapshot readable
            # before the clone's vacuum is untouched by it
            for v, rows in before.items():
                assert snapshot(t, v) == rows, f"source v{v} after clone vacuum"
        elif tag == "restore":
            versions = t.versions()
            target = versions[param % len(versions)]
            v = t.restore(target)
            model = dict(history[target])
            history[v] = dict(model)
        else:  # source vacuum: clone contents no longer assertable
            doomed = t.versions()[:-2]
            t.vacuum(retain_versions=2)
            for dv in doomed:
                history.pop(dv, None)
            clone_model = None

        assert snapshot(t) == {(i, val) for i, val in model.items()}, (tag, param)
        if clone_model is not None:
            assert snapshot(clone) == {
                (i, val) for i, val in clone_model.items()
            }, (tag, param)

    for v in t.versions():
        if v in history:
            assert snapshot(t, v) == {(i, val) for i, val in history[v].items()}
