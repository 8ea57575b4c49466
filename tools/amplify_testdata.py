"""Build a k×-amplified copy of a testdata scale dir for benchmarking.

The largest driver-provided scale is sf0.1, where most headline queries sit
on Spark's ~0.3-0.5 s job-scheduling floor — round-over-round deltas then
measure scheduler noise, not operator cost.  This tool scales the FACT
tables (lineitem, orders, customer, supplier, part, events) by unioning k
replicas whose foreign/primary keys are shifted by a per-replica offset:
join fan-outs, per-user event series, and group cardinalities all grow
LINEARLY — exactly how real data growth behaves — instead of the k²
join-duplication plain unioning would cause.

Dimension tables (region, nation) and the text/vector tables (documents,
embeddings) are copied as-is: dims grow slower than facts in any real
warehouse, and replicating identical texts/vectors would manufacture k²
near-duplicate pairs that no real corpus has.

Output layout matches the driver's (<name>.parquet per table), so every
consumer — tools/bench_one.py, the catalog, the REPL — can point at the
amplified dir unchanged.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_query_engine_spark.operators.storage import materialize_once, staged_path
from simple_query_engine_spark.sources.catalog import TABLE_NAMES, table

# Per-replica key offset: far above any real key, far below 2⁶³/k.
REPLICA_OFFSET = 10**12

# Bumped whenever the amplifier's output changes for identical input, so
# cached amplified copies under the scratch root are rebuilt instead of
# silently serving the old format.  f2 = r15 whitespace-class token split.
_AMPLIFY_FORMAT = "f2"

# Key columns shifted per replica (FK relationships stay intact because
# both sides of every join shift by the same offset).  Non-key attributes
# and unamplified-dim FKs (c_nationkey, s_nationkey) are left alone.
_SHIFT_COLUMNS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "events": ("event_id", "user_id"),
}


# Hot-key mode: the order key every skewed lineitem row is rewritten to.
# Chosen from replica 0 so the FK stays valid against amplified orders.
HOT_ORDER_KEY = 1


def _amplified(
    df: DataFrame, shift_cols: tuple[str, ...], k: int, hot_fraction: float = 0.0
) -> DataFrame:
    replicas = []
    for i in range(k):
        replica = df
        for col in shift_cols:
            replica = replica.withColumn(
                col, F.col(col) + F.lit(i * REPLICA_OFFSET)
            )
        replicas.append(replica)
    out = replicas[0]
    for replica in replicas[1:]:
        out = out.unionAll(replica)
    if hot_fraction > 0.0 and "l_orderkey" in df.columns:
        # Deterministically rewrite ~hot_fraction of lineitem rows to ONE
        # order key: manufactures the single-celebrity-key skew the uniform
        # testdata never exhibits, for salted-vs-plain join A/B benching.
        pct = int(hot_fraction * 100)
        out = out.withColumn(
            "l_orderkey",
            F.when(
                F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(100)) < pct,
                F.lit(HOT_ORDER_KEY),
            ).otherwise(F.col("l_orderkey")),
        )
    return out


def _amplified_documents(df: DataFrame, k: int) -> DataFrame:
    """k× documents with LINEAR duplicate/near-duplicate growth.

    Replica 0 is verbatim; replica i re-tags EVERY whitespace token with a
    lowercase ``~r<i>`` suffix (which survives the engine's normalization —
    ``text._NORM`` only lowercases and collapses whitespace), so replicas
    share no tokens, words, or shingles: exact-dup groups and planted
    near-dup pairs replicate WITHIN each replica (×k growth, like k new
    domains), never across replicas (the k² manufacture the fact-side
    amplifier's docstring rejects).  ``doc_id`` shifts by the same
    REPLICA_OFFSET as the fact keys, so absolute-id conventions
    (eval-set bands, query-doc slices) keep selecting replica 0 only, and
    the ``vec_id == doc_id`` alignment with amplified embeddings holds.
    ``n_chars`` is recomputed so the stored metadata stays honest."""
    from pyspark.sql import functions as F

    replicas = [df]
    for i in range(1, k):
        # Split on the SAME whitespace class the engine's _NORM collapses
        # (ADVICE r14): a source doc containing tab/newline/double-space
        # must not leak untagged token fragments shared across replicas —
        # splitting on a literal ' ' would leave 'a\tb' as ONE token whose
        # normalized halves collide replica-to-replica, breaking the
        # '×k, never k²' dup-growth guarantee.
        tagged = F.array_join(
            F.transform(
                F.filter(F.split("text", r"\s+"), lambda x: x != F.lit("")),
                lambda x, i=i: F.concat(x, F.lit(f"~r{i}")),  # noqa: B023
            ),
            " ",
        )
        replicas.append(
            df.select(
                (F.col("doc_id") + F.lit(i * REPLICA_OFFSET)).alias("doc_id"),
                tagged.alias("text"),
                "lang",
                "source",
                F.length(tagged).cast("long").alias("n_chars"),
            )
        )
    out = replicas[0]
    for replica in replicas[1:]:
        out = out.unionAll(replica)
    return out


def _amplified_embeddings(df: DataFrame, k: int) -> DataFrame:
    """k× embeddings: replica i rotates every vector left by i positions
    (norm- and structure-preserving — within-replica pairwise geometry is
    identical, cross-replica vectors are distinct), with ``vec_id``
    shifted by the shared REPLICA_OFFSET to keep doc alignment."""
    from pyspark.sql import functions as F

    dim = df.select(F.size("embedding")).first()[0]
    if k > dim:
        raise ValueError(f"corpus amplification k={k} exceeds dim={dim}")
    replicas = [df]
    for i in range(1, k):
        rotated = F.concat(
            F.slice("embedding", i + 1, dim - i), F.slice("embedding", 1, i)
        )
        replicas.append(
            df.select(
                (F.col("vec_id") + F.lit(i * REPLICA_OFFSET)).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
    out = replicas[0]
    for replica in replicas[1:]:
        out = out.unionAll(replica)
    return out


def amplify_dir(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    dst_dir: str,
    hot_fraction: float = 0.0,
    corpus: bool = False,
) -> str:
    """Write the amplified copy of ``sf_dir`` to ``dst_dir``; idempotent
    and race-safe (each table lands via temp-dir + atomic rename).

    Default mode amplifies the FACT tables and copies documents/embeddings
    as-is (the bench shape); ``corpus=True`` inverts it — documents and
    embeddings amplify (see the two ``_amplified_*`` transforms), facts
    copy as-is — for the corpus-bound correctness gate."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in TABLE_NAMES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(src):
            continue

        def _write(tmp: str, name: str = name) -> None:
            df = table(spark, sf_dir, name)
            if corpus:
                if name == "documents":
                    df = _amplified_documents(df, k)
                elif name == "embeddings":
                    df = _amplified_embeddings(df, k)
            elif name in _SHIFT_COLUMNS:
                df = _amplified(df, _SHIFT_COLUMNS[name], k, hot_fraction)
            df.write.mode("overwrite").parquet(tmp)

        materialize_once(os.path.join(dst_dir, f"{name}.parquet"), _write)
    return dst_dir


def ensure_amplified(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    hot_fraction: float = 0.0,
    corpus: bool = False,
) -> str:
    """Amplified copy of ``sf_dir``, a staged copy under the scratch root
    built once per variant (k, hot fraction, corpus mode) and source
    contents.  Every source table's size and mtime and ``_AMPLIFY_FORMAT``
    (bumped when the amplifier itself changes; r15: whitespace-class
    token split) name the generation, so a regenerated testdata set or an
    amplifier change builds a new copy and reaps the variant's old one."""
    name = f"amplified_x{k}"
    if hot_fraction > 0.0:
        name += f"_hot{int(hot_fraction * 100)}"
    if corpus:
        name += "_corpus"
    tables = tuple(
        t for t in TABLE_NAMES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    )
    dst = staged_path(spark, sf_dir, tables, name, tag=_AMPLIFY_FORMAT)
    return amplify_dir(spark, sf_dir, k, dst, hot_fraction, corpus=corpus)


def main() -> int:
    if len(sys.argv) != 4:
        print("usage: python tools/amplify_testdata.py <sf_dir> <dst_dir> <k>")
        return 1
    from simple_query_engine_spark.session import get_spark

    spark = get_spark(app_name="amplify-testdata")
    amplify_dir(spark, sys.argv[1], int(sys.argv[3]), sys.argv[2])
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
