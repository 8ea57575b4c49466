"""Embedding similarity search over the ``embeddings`` table
(``array<float>`` column, 64-dim).

Every ranked search is a candidate strategy plus one exact-rank core:

- **candidate strategies** each keep their own join shape and hand the
  core (query, candidate) rows that carry both vectors and norms
  (``q_emb``/``q_norm``, ``c_emb``/``c_norm``): the broadcast all-pairs
  cross join (brute force), bucket equality on random-hyperplane LSH
  signatures (single-bucket and multi-probe), probed IVF cells
  (hash-seeded and cosine-assigned in ``sim_ivf_topk``; the trained
  integer k-means quantizer everywhere else), and the SQ/PQ coarse
  shortlists.  LSH planes have INTEGER coefficients over an
  integer-grid-scaled copy of the embedding, so bucket bits are exact in
  both engines and every pipeline is oracle-checked, not rows-only.
- **one core**: :func:`_cosine` is the single exact-cosine expression and
  :func:`_rank_exact` the single scorer — round-4 similarity, self-pairs
  dropped, then the ``(similarity desc, neighbor_id)`` top-k page or the
  radius filter.  Page size and radius are arguments of the one query,
  not copies of it.  The near-dup pair entries score with the same
  :func:`_cosine`.

The dot products run JVM-side via ``zip_with``/``aggregate`` (no Python
in the loop).  All arithmetic is cast to double *before* summation, in
array-index order, so results are bit-comparable with the DuckDB oracle's
double math.  The oracles are plain SQL text and share no code with the
Spark side, so they stay independent reference implementations.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_query_engine_spark.functions.caching import session_cache
from simple_query_engine_spark.functions.hashing import md5_prefix_long, md5_prefix_long_sql
from simple_query_engine_spark.sources.catalog import table

TOP_K = 10
NUM_QUERY_VECTORS = 5  # vec_id < 5 plays the query set
NUM_HYPERPLANES = 8
# The synthetic corpus is near-orthogonal random vectors (max pair cosine
# ≈ 0.51 at sf0.01, ≈ 0.60 at sf0.1 — measured), so a production-style
# near-dup threshold (≥ 0.9) matches nothing and every checked result
# would be vacuously empty.  The shipped threshold sits at the top of the
# corpus's actual cosine distribution so the oracle-checked pair set is
# non-empty at every SF; a real deployment raises this (and the planted
# near-identical pairs in tests pin detection at ≥ 0.8 regardless).
NEARDUP_COSINE = 0.35


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _with_norm(
    df: DataFrame, id_alias: str, side: str, *keep: str | Column
) -> DataFrame:
    """One side of a scored pair: ``vec_id`` as ``id_alias``, the
    embedding and its norm as ``{side}_emb``/``{side}_norm`` (``q`` for
    the query side, ``c`` for the candidate side — the columns
    :func:`_cosine` reads), plus the ``keep`` columns."""
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(f"{side}_emb"),
        _norm(F.col("embedding")).alias(f"{side}_norm"),
        *keep,
    )


def _normed_side(vecs: DataFrame, id_alias: str, side: str, *keep: str) -> DataFrame:
    """:func:`_with_norm` for a relation whose norm is already the ``nrm``
    column (a cached or shared vector table): ``keep`` columns first,
    then ``vec_id`` as ``id_alias`` and ``{side}_emb``/``{side}_norm``."""
    return vecs.select(
        *keep,
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(f"{side}_emb"),
        F.col("nrm").alias(f"{side}_norm"),
    )


def _cosine() -> Column:
    """The exact cosine of the ``q_emb``/``c_emb`` pair — the one
    expression every ranked search and every near-dup pair entry scores
    with."""
    return _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))


def _rank_exact(
    joined: DataFrame,
    k: int = TOP_K,
    radius: float | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """The exact-rank core every ranked search ends in.  ``joined`` holds
    a strategy's (query_id, neighbor_id) candidates with both vectors and
    norms; the core drops self-pairs, scores round-4 :func:`_cosine`
    ``similarity`` and keeps either each query's top-``k`` page by
    (similarity desc, neighbor_id), numbered ``sim_rank``, or — with
    ``radius`` — every candidate at or above it, unranked.  ``cell_cap``
    first keeps at most that many candidates per (query_id, cell_id) in
    the same order (the diversified page, which keeps ``cell_id``)."""
    keep = ["cell_id"] if cell_cap is not None else []
    scored = joined.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", *keep, F.round(_cosine(), 4).alias("similarity")
    )
    if radius is not None:
        return scored.filter(F.col("similarity") >= radius)
    best_first = (F.col("similarity").desc(), F.col("neighbor_id"))
    if cell_cap is not None:
        w_cell = Window.partitionBy("query_id", "cell_id").orderBy(*best_first)
        scored = (
            scored.withColumn("cell_slot", F.row_number().over(w_cell))
            .filter(F.col("cell_slot") <= cell_cap)
            .drop("cell_slot")
        )
    w = Window.partitionBy("query_id").orderBy(*best_first)
    return scored.withColumn("sim_rank", F.row_number().over(w)).filter(
        F.col("sim_rank") <= k
    )


def _query_side(df: DataFrame, *keep: str | Column) -> DataFrame:
    """The query side: the NUM_QUERY_VECTORS rows of ``df`` as
    (query_id, q_emb, q_norm, *keep)."""
    return _with_norm(
        df.filter(F.col("vec_id") < NUM_QUERY_VECTORS), "query_id", "q", *keep
    )


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each query vector (vec_id < NUM_QUERY_VECTORS).

    The query side is broadcast — the join is a BroadcastNestedLoopJoin over
    a |Q|-row build side, i.e. a single streaming pass over candidates.
    """
    embeddings = table(spark, sf_dir, "embeddings")
    queries = _query_side(embeddings)
    candidates = _with_norm(embeddings, "neighbor_id", "c")
    return _rank_exact(F.broadcast(queries).crossJoin(candidates))


ALL_PAIRS_MAX_VECTORS = 100_000


def q_sim_neardup_pairs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ NEARDUP_COSINE, a < b.

    **Exact baseline, not a production path** — the N² pair space here is
    pruned by nothing.  The name says `_baseline` and a hard guard raises
    beyond ALL_PAIRS_MAX_VECTORS so it cannot be pointed at a corpus by
    accident; the scale paths are :func:`q_sim_ann_lsh` (bucketed
    candidates) and :func:`q_sim_ivf_topk` (nprobe-bounded search).
    """
    embeddings = table(spark, sf_dir, "embeddings")
    # Bounded probe: scan at most MAX+1 rows to decide, so the guard's own
    # cost stays constant no matter how big the corpus is.
    if embeddings.limit(ALL_PAIRS_MAX_VECTORS + 1).count() > ALL_PAIRS_MAX_VECTORS:
        raise ValueError(
            f"sim_neardup_pairs_baseline is an all-pairs O(N²) check, "
            f"refused above {ALL_PAIRS_MAX_VECTORS} vectors — "
            "use sim_ann_lsh (LSH-bucketed) or sim_ivf_topk instead"
        )
    a = _with_norm(embeddings, "vec_id_a", "q")
    b = _with_norm(embeddings, "vec_id_b", "c")
    return (
        a.crossJoin(b)
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("similarity", F.round(_cosine(), 4))
        .filter(F.col("similarity") >= NEARDUP_COSINE)
        .select("vec_id_a", "vec_id_b", "similarity")
    )


EMB_SCALE = 10_000  # embedding floats → floor(x·SCALE): exact integer grid


def _int_hyperplanes(dim: int = 64, count: int = NUM_HYPERPLANES) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes with INTEGER coefficients
    (standard normal × 1000, floored).  Integer planes against
    integer-grid-scaled embeddings make every signature dot product exact
    integral arithmetic (far below 2⁵³, so double math is lossless) — the
    sign bit can never differ between engines, which is what lets the whole
    LSH pipeline be oracle-checked instead of rows-only."""
    import numpy as np

    rng = np.random.RandomState(20240813)
    return np.floor(rng.standard_normal((count, dim)) * 1000).astype(int).tolist()


def _scaled_embedding() -> Column:
    """floor(x·EMB_SCALE) per element — both engines floor identically (no
    round-half-mode hazard), and the result is integral in a double."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * EMB_SCALE).cast("double"),
    )


def _plane_dot_sql(vec_sql: str, plane: list[int]) -> str:
    """SQL text for the integer-plane dot product — the SAME
    ``aggregate(zip_with(vec, array(c…), x*y), 0.0, acc+x)`` tree
    :func:`_dot` builds over ``F.array(F.lit(c)…)``, so the runtime plan
    (and every float operation, in the same order) is unchanged.  Why a
    string: the Column-graph form costs one py4j round-trip per literal
    — measured ~10 s of driver wall for the 144-plane × 64-dim builder,
    more than the query's whole execution — while one ``F.expr`` ships
    the tree in a single call.  (An unrolled ``v[1]*c1 + …`` sum is
    value-equivalent but blows up whole-stage codegen: 9,216 inlined
    terms send janino into an OOM; the higher-order form stays tiny.)"""
    arr = "array(" + ", ".join(f"{float(c)}D" for c in plane) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _bucket_sql(planes: list[list[int]]) -> str:
    """SQL text for the LSH bucket of the ``sv`` column: bit i is set iff
    the dot product with ``planes[i]`` is non-negative.  One ``F.expr``
    instead of a per-literal Column graph — see :func:`_plane_dot_sql`."""
    return " + ".join(
        f"(CASE WHEN {_plane_dot_sql('sv', plane)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )


def _signed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + their LSH bucket: sign bits of NUM_HYPERPLANES
    integer-plane dot products over the integer-grid-scaled embedding
    (see :func:`_int_hyperplanes` — exact arithmetic, so bucket
    assignment is engine-exact and LSH pipelines hash-match their DuckDB
    oracles)."""
    scaled = table(spark, sf_dir, "embeddings").withColumn("sv", _scaled_embedding())
    return scaled.withColumn("bucket", F.expr(_bucket_sql(_int_hyperplanes())))


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH buckets.

    Vectors sharing a bucket are candidates (equi-join on the bucket
    key); exact cosine then ranks within bucket.  Approximate vs brute
    force by construction — recall is asserted in tests.
    """
    signed = _signed_embeddings(spark, sf_dir)
    queries = _query_side(signed, "bucket")
    candidates = _with_norm(signed, "neighbor_id", "c", "bucket")
    return _rank_exact(F.broadcast(queries).join(candidates, "bucket"))


MULTIPROBE_T = 4  # query-directed sign-flip probes per query (plus home)


def q_sim_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-directed MULTI-PROBE LSH ANN (Lv et al., VLDB 2007): each
    query probes its home bucket PLUS the {MULTIPROBE_T} perturbed
    buckets obtained by flipping the sign bits with the SMALLEST
    absolute hyperplane margins — the planes a query sits closest to are
    exactly where its true neighbors most likely landed on the other
    side, so flipping those recovers most of the recall that extra hash
    tables would buy at ZERO extra index memory: one table stands,
    probes multiply per QUERY, not per indexed vector.  The
    single-bucket baseline is ``sim_ann_lsh``; recall dominance over it
    is pinned in tests (a superset of candidate buckets can only help).

    Exactness: margins are the same integer-grid plane dot products that
    make the bucket bits engine-exact (integral doubles < 2⁵³); the
    flip choice is totally ordered (margin asc, plane index asc).  Each
    flip changes a different bit, so a query's probe buckets are
    distinct and every candidate (one bucket each) matches at most one
    probe: the scored pairs need no DISTINCT before ranking.

    Scale shape: identical to ``sim_ann_lsh`` with (T+1)× the probe
    rows on the QUERY side only — the corpus-side signature table is
    computed and keyed once; queries stay broadcast (|Q|·(T+1) rows);
    candidate volume is (T+1)·|Q|·N/2^bits, still a vanishing corpus
    fraction.  At 100 TB the probe fan-out is the standard recall dial
    that avoids re-hashing the corpus into more tables."""
    signed = _signed_embeddings(spark, sf_dir)
    planes = _int_hyperplanes()
    # One F.expr instead of a per-literal Column graph — see _plane_dot_sql.
    margins = F.expr(
        "array("
        + ", ".join(
            f"named_struct('m', abs({_plane_dot_sql('sv', plane)}), "
            f"'i', {i}, 'flipbit', {1 << i})"
            for i, plane in enumerate(planes)
        )
        + ")"
    )
    queries = _query_side(
        signed.withColumn("flips", F.slice(F.array_sort(margins), 1, MULTIPROBE_T)),
        F.explode(
            F.array_union(
                F.array(F.col("bucket")),
                F.transform(
                    F.col("flips"), lambda s: F.col("bucket").bitwiseXOR(s["flipbit"])
                ),
            )
        ).alias("bucket"),
    )
    candidates = _with_norm(signed, "neighbor_id", "c", "bucket")
    return _rank_exact(F.broadcast(queries).join(candidates, "bucket"))


# Multi-table LSH for the near-dup SELF-join: a self-join's candidate
# volume is tables × N²/2^bits, so the per-table key must be wide (12-bit
# buckets here vs the 8-bit single-table key the broadcast ANN query can
# afford), with recall recovered by running several independent tables.
# For true near-duplicate cosines (≥ ~0.95) a 12-bit table keeps most
# pairs and a handful of tables push recall above 99%; the b/L pair is
# the standard dial as N grows.  L=12/b=12 keeps the random-pair
# candidate rate at L·2⁻ᵇ ≈ 0.3% of the pair space while still
# surfacing a non-empty pair set at the corpus's moderate-cosine
# threshold (see NEARDUP_COSINE) — measured 13 pairs at sf0.01, 190 at
# sf0.1.
NEARDUP_TABLES = 12
NEARDUP_BITS = 12


def q_sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH — the scale
    path the guarded all-pairs baseline points at.

    Candidate pairs come from equi-joins on (table_idx, NEARDUP_BITS-bit
    bucket) — NEARDUP_TABLES independent hyperplane tables — then exact cosine
    filters at NEARDUP_COSINE.  Planes are the same integer-grid
    construction as the ANN path, so bucket bits are engine-exact and the
    whole pipeline hash-matches its DuckDB oracle; detection of planted
    near-identical pairs is pinned in tests and exercised by the
    oracle gate itself via :func:`q_sim_neardup_planted`.
    """
    embeddings = table(spark, sf_dir, "embeddings")
    return _neardup_lsh_pairs(embeddings, sf_dir, "sim_lsh_tables", NEARDUP_COSINE)


def _neardup_lsh_pairs(
    embeddings: DataFrame, sf_dir: str, cache_key: str, threshold: float
) -> DataFrame:
    """Multi-table LSH near-dup pairs over any (vec_id, embedding) relation."""
    planes = _int_hyperplanes(count=NEARDUP_TABLES * NEARDUP_BITS)
    scaled = embeddings.withColumn("sv", _scaled_embedding())
    # One F.expr per table instead of a per-literal Column graph (9,216
    # F.lit py4j round-trips ≈ 10 s of driver wall) — see _plane_dot_sql.
    bucket_cols = [
        F.expr(
            f"named_struct('table_idx', {t}, 'bucket', "
            f"{_bucket_sql(planes[t * NEARDUP_BITS:(t + 1) * NEARDUP_BITS])})"
        )
        for t in range(NEARDUP_TABLES)
    ]
    # Shuffle keys, not payloads (guide §2.3/§8): the bucket SELF-join
    # moves only (vec_id, table_idx, bucket) — ~24 bytes/row — while the
    # 64-double embeddings stay in a one-row-per-vector table that is
    # fetched AFTER candidate pairs are deduped.  The previous shape
    # carried the embedding + norm through both legs of the self-join
    # (~20× the bytes per bucket row, pushing the join past the
    # broadcast threshold into a payload sort-merge); at 100 TB the
    # difference is shuffling the corpus twice vs shuffling 24-byte
    # keys.  Both tables cache: buckets feed two self-join legs (144
    # hyperplane dot products per vector otherwise recompute per leg),
    # vectors feed the two candidate fetch joins.
    vecs = session_cache(
        scaled.select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        ),
        sf_dir,
        f"{cache_key}_vectors",
    )
    buckets = session_cache(
        scaled.select(
            "vec_id", F.explode(F.array(*bucket_cols)).alias("tb")
        ).select("vec_id", "tb.table_idx", "tb.bucket"),
        sf_dir,
        cache_key,
    )
    candidates = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    return (
        candidates.join(_normed_side(vecs, "vec_id_a", "q"), "vec_id_a")
        .join(_normed_side(vecs, "vec_id_b", "c"), "vec_id_b")
        .select("vec_id_a", "vec_id_b", F.round(_cosine(), 4).alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


# Planted-near-duplicate gate (VERDICT r04 item 6): the synthetic embedding
# corpus is near-orthogonal (max pair cosine ≈ 0.51–0.60 — see the
# NEARDUP_COSINE note), so a production threshold (≥ 0.9) can never fire on
# it and its oracle check would be vacuous.  This query derives a planted
# corpus deterministically INSIDE the query — every PLANT_VEC_MOD-th vector
# gains a copy with 0.125 added to its first component, a true near-dup
# (cosine ≈ 0.99 for unit-ish 64-dim vectors) — and runs the same
# multi-table LSH pipeline at the production threshold; the DuckDB oracle
# performs the identical derivation.  0.125 is an exact binary fraction and
# the source floats widen to double losslessly, so the perturbed values are
# bit-identical across engines.
PLANT_VEC_MOD = 20
PLANT_VEC_OFFSET = 1_000_000
PLANT_VEC_DELTA = 0.125
PLANTED_COSINE = 0.9


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Loud-failure guard (ADVICE r05): folded into the output vec_id so a
    # corpus whose real ids reach PLANT_VEC_OFFSET errors instead of
    # silently colliding with planted ids (same pattern as
    # dedup._planted_documents).
    guard = F.when(F.col("vec_id") < PLANT_VEC_OFFSET, F.col("vec_id")).otherwise(
        F.raise_error(
            F.lit(
                "planted-id collision: real vec_id >= PLANT_VEC_OFFSET "
                f"({PLANT_VEC_OFFSET}); raise the offset for this corpus"
            )
        ).cast("long")
    )
    base = table(spark, sf_dir, "embeddings").select(
        guard.alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    planted = base.filter(F.col("vec_id") % PLANT_VEC_MOD == 0).select(
        (F.col("vec_id") + PLANT_VEC_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at(F.col("embedding"), 1) + F.lit(PLANT_VEC_DELTA)),
            F.expr("slice(embedding, 2, size(embedding) - 1)"),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


def q_sim_neardup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at the PRODUCTION threshold (0.9)
    over the planted corpus — same multi-table LSH plan as
    :func:`q_sim_neardup_lsh`; only the input relation and threshold differ."""
    return _neardup_lsh_pairs(
        _planted_embeddings(spark, sf_dir),
        sf_dir,
        "sim_lsh_tables_planted",
        PLANTED_COSINE,
    )


NUM_IVF_CELLS = 16
IVF_NPROBE = 4
IVF_HASH_WIDTH = 15  # md5 hex-prefix width for centroid sampling


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization.

    "Training" is deterministic: the NUM_IVF_CELLS vectors with the
    lowest md5-prefix hash of their vec_id serve as cell centroids — a
    hash-spread sample, statistically uniform over the corpus rather than
    whatever happens to sit at the head of insertion order, yet still
    engine-exact (both engines compute the identical md5 prefix, see
    ``functions/hashing.py``), so the whole pipeline stays oracle-checked.
    This is the untrained point of the IVF family: the trained quantizer
    (:func:`_kmeans_trained`, integer-exact and oracle-checked too) serves
    ``sim_ivf_trained_topk`` and its siblings; this entry keeps its own
    cosine-assigned cells as its candidate strategy and shares only the
    exact-rank core.  Selection is a 16-row TakeOrderedAndProject over
    (hash, vec_id) — no full sort at scale.  Every vector is assigned to
    its nearest centroid by cosine (one broadcast pass — |cells| is tiny);
    each query probes its IVF_NPROBE nearest cells and searches exactly
    inside them.  At 100 TB the
    assignment is a narrow broadcast map over the corpus and the search
    touches nprobe/cells of the data — the standard recall/throughput dial.

    Assignment is an aggregating arg-max (``max`` over a
    ``(affinity, -cell_id)`` struct): the 16 candidate rows per vector
    collapse map-side (partial aggregation) before any shuffle, instead of
    materializing and caching the corpus × cells ranking.  Only the
    NUM_QUERY_VECTORS probe rows ever see a window rank, on a
    filter-pushdown-pruned scan.  Approximate vs brute force but fully
    deterministic arithmetic, so oracle-checked; recall vs brute force in
    tests.
    """
    embeddings = table(spark, sf_dir, "embeddings")
    sampled = (
        embeddings.withColumn(
            "centroid_hash", md5_prefix_long(F.col("vec_id").cast("string"), IVF_HASH_WIDTH)
        )
        .orderBy("centroid_hash", "vec_id")
        .limit(NUM_IVF_CELLS)
        .drop("centroid_hash")
    )
    # Cell affinity is the exact cosine too: each vector (``q`` side)
    # against the centroids (``c`` side).
    centroids = _with_norm(sampled, "cell_id", "c")
    vectors = _with_norm(embeddings, "vec_id", "q")
    scored_cells = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "q_emb", "q_norm", "cell_id", _cosine().alias("cell_affinity")
    )
    # Struct max is lexicographic: highest affinity, then lowest cell_id —
    # the same tie-break as the oracle's ROW_NUMBER ordering.  The vector
    # is constant within a vec_id group, so first() is deterministic in
    # value; assigned, it becomes the candidate side.
    assignments = (
        scored_cells.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cell_affinity"), (-F.col("cell_id")).alias("neg_cell")
                )
            ).alias("best"),
            F.first("q_emb").alias("c_emb"),
            F.first("q_norm").alias("c_norm"),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "c_emb",
            "c_norm",
            (-F.col("best.neg_cell")).alias("cell_id"),
        )
    )
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.col("cell_affinity").desc(), F.col("cell_id")
    )
    probes = (
        scored_cells.filter(F.col("vec_id") < NUM_QUERY_VECTORS)
        .withColumn("cell_rank", F.row_number().over(w_probe))
        .filter(F.col("cell_rank") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "q_emb", "q_norm", "cell_id")
    )
    return _rank_exact(F.broadcast(probes).join(assignments, "cell_id"))


def q_sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm + count — grouped vector aggregation
    (posexplode → per-(label, dim) integer sum → re-assemble), all
    JVM-side, on the shifted integer grid the k-means family uses.

    Exactness (r13): the original float formulation (AVG of doubles per
    (label, dim), then a float sum of squares) was the catalog's one
    order-dependent double aggregation — partial-agg order could in
    principle flip a round(...,4) boundary between engines or runs.  Now
    every accumulation is exact integer arithmetic: per-dim sums S_d of
    floor(val·EMB_SCALE) and the label's vector count n are exact, the
    norm of the mean is sqrt(Σ S_d²)/(n·EMB_SCALE) where Σ S_d² is an
    exact BIGINT sum (≲2e16 at catalog scales), and the only float ops
    are one cast + one sqrt + one division — single IEEE operations,
    bit-identical in both engines regardless of accumulation order."""
    embeddings = table(spark, sf_dir, "embeddings")
    exploded = embeddings.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * EMB_SCALE).cast("long"),
            )
        ).alias("dim", "ival"),
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.sum("ival").alias("s_d"), F.count(F.lit(1)).alias("n_vec")
    )
    return per_dim.groupBy("label").agg(
        F.round(
            F.sqrt(F.sum(F.col("s_d") * F.col("s_d")).cast("double"))
            / (F.max("n_vec") * F.lit(float(EMB_SCALE))),
            4,
        ).alias("centroid_norm"),
        F.count(F.lit(1)).alias("n_dims"),
    )


# Oracle tail: per-query recall@k of the ``approx`` CTE against the
# ``exact`` CTE (both (query_id, neighbor_id) pages).
_RECALL_ROLLUP_SQL = """SELECT e.query_id,
               COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits,
               ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 4) AS recall_at_k
        FROM exact e
        LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id"""


def _page_sql(source: str, radius: float | None = None) -> str:
    """Oracle tail over a scored ``source`` CTE of (query_id, neighbor_id,
    similarity): each query's top-TOP_K page by (similarity DESC,
    neighbor_id) with its ``sim_rank`` or, with ``radius``, every row at
    or above it."""
    if radius is not None:
        return (
            f"SELECT query_id, neighbor_id, similarity FROM {source} "
            f"WHERE similarity >= {radius}"
        )
    return f"""SELECT query_id, neighbor_id, similarity, sim_rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY similarity DESC,
                                                  neighbor_id) AS sim_rank
            FROM {source}
        ) WHERE sim_rank <= {TOP_K}"""


def _bucket_oracle_sql(planes: list[list[int]]) -> str:
    """DuckDB LSH bucket of the ``sv`` column over ``planes`` — the
    oracle's own text for the sign-bit signature."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(sv, {plane}::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )


def _lsh_sig_cte() -> str:
    """Shared oracle CTE: per-vector norm + LSH bucket from the same
    integer planes and floor-scaled grid the Spark side uses, so signature
    bits — and therefore buckets and candidates — are bit-identical."""
    bucket_expr = _bucket_oracle_sql(_int_hyperplanes())
    return f"""e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
                   list_transform(embedding::DOUBLE[], x -> floor(x * {EMB_SCALE})) AS sv
            FROM embeddings
        ), sig AS (
            SELECT vec_id, v, nrm, {bucket_expr} AS bucket FROM e
        )"""


def _neardup_lsh_oracle_sql(
    source: str = "embeddings", threshold: float = NEARDUP_COSINE
) -> str:
    """DuckDB oracle for the multi-table near-dup LSH: same integer
    planes over the same floor-scaled grid per table, so (table, bucket)
    keys — and therefore candidates — are bit-identical.  ``source`` is the
    (vec_id, embedding) relation to read — the planted-corpus variant
    passes a derived union here."""
    planes = _int_hyperplanes(count=NEARDUP_TABLES * NEARDUP_BITS)
    table_selects = "\n            UNION ALL ".join(
        "SELECT vec_id, v, nrm, {t} AS table_idx, {bucket} AS bucket FROM e".format(
            t=t,
            bucket=_bucket_oracle_sql(
                planes[t * NEARDUP_BITS:(t + 1) * NEARDUP_BITS]
            ),
        )
        for t in range(NEARDUP_TABLES)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
                   list_transform(embedding::DOUBLE[], x -> floor(x * {EMB_SCALE})) AS sv
            FROM {source}
        ), tb AS (
            {table_selects}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
            FROM tb a JOIN tb b
              ON a.table_idx = b.table_idx AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        )
        SELECT ida AS vec_id_a, idb AS vec_id_b,
               ROUND(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 4) AS similarity
        FROM cand
        JOIN e ea ON ida = ea.vec_id
        JOIN e eb ON idb = eb.vec_id
        WHERE ROUND(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 4)
              >= {threshold}
    """


# Oracle twin of ``_planted_embeddings``: same modulus, offset, and exact
# binary-fraction delta on the first component of the double-widened vector.
_PLANTED_EMB_SQL = f"""(
            WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS embedding
                       FROM embeddings)
            SELECT vec_id, embedding FROM d
            UNION ALL
            SELECT vec_id + {PLANT_VEC_OFFSET} AS vec_id,
                   list_concat([embedding[1] + {PLANT_VEC_DELTA}],
                               embedding[2:]) AS embedding
            FROM d WHERE vec_id % {PLANT_VEC_MOD} = 0
        )"""


def _ann_lsh_oracle_sql() -> str:
    return f"""
        WITH {_lsh_sig_cte()}, scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS similarity
            FROM sig q JOIN sig c ON q.bucket = c.bucket
            WHERE q.vec_id < {NUM_QUERY_VECTORS} AND q.vec_id <> c.vec_id
        )
        {_page_sql("scored")}
    """


def _multiprobe_lsh_oracle_sql() -> str:
    """Signature CTE + per-plane margin branches (one generated SELECT per
    plane, each knowing its flip bit as a literal) + the total-order flip
    pick + deduplicated probe ranking — mirrors q_sim_multiprobe_lsh."""
    marg_branches = "\n            UNION ALL ".join(
        f"SELECT vec_id, {i} AS idx, {1 << i} AS flipbit, "
        f"abs(list_dot_product(sv, {plane}::DOUBLE[])) AS ad "
        f"FROM e WHERE vec_id < {NUM_QUERY_VECTORS}"
        for i, plane in enumerate(_int_hyperplanes())
    )
    return f"""
        WITH {_lsh_sig_cte()}, marg AS (
            {marg_branches}
        ), flips AS (
            SELECT vec_id, flipbit FROM (
                SELECT vec_id, flipbit,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY ad, idx) AS rn
                FROM marg
            ) WHERE rn <= {MULTIPROBE_T}
        ), probes AS (
            SELECT vec_id AS query_id, bucket AS probe FROM sig
            WHERE vec_id < {NUM_QUERY_VECTORS}
            UNION
            SELECT f.vec_id, xor(s.bucket, f.flipbit)
            FROM flips f JOIN sig s ON s.vec_id = f.vec_id
        ), scored AS (
            SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                       AS similarity
            FROM probes p
            JOIN sig c ON c.bucket = p.probe AND c.vec_id <> p.query_id
            JOIN sig q ON q.vec_id = p.query_id
        )
        {_page_sql("scored")}
    """


def q_sim_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k audit: per query vector, how many of the exact cosine
    top-k the IVF path recovered — the metric every ANN deployment tracks
    when tuning nprobe/cells (the similarity-family twin of
    ``dedup_lsh_quality``).

    The exact side is the guarded brute-force baseline, so at production
    scale this audit runs over a SAMPLED query set (|Q| queries × one
    corpus pass), not per live query; both result sets here are |Q|·k
    rows, so the reconciliation join is trivially broadcast-sized
    whatever the corpus.
    """
    approx = q_sim_ivf_topk(spark, sf_dir)
    return _recall_vs_exact(spark, sf_dir, approx)


def _recall_vs_exact(
    spark: SparkSession, sf_dir: str, approx: DataFrame, exact: DataFrame | None = None
) -> DataFrame:
    """Per-query recall@k of ``approx`` against the exact brute-force
    top-k — the shared reconciliation of both recall-audit entries.  Both
    inputs are |Q|·k rows, so the join is broadcast-sized whatever the
    corpus.  Callers reconciling SEVERAL approximate indexes in one plan
    (``sim_ivf_rebuild``) pass a shared cached ``exact`` page — Catalyst
    does not dedupe identical subtrees, so letting each branch rebuild
    the brute-force scan pays the corpus pass once per branch."""
    if exact is None:
        exact = q_sim_topk_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id"
        )
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    flagged = exact.join(hits, ["query_id", "neighbor_id"], "left")
    return flagged.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
    ).select(
        "query_id",
        "n_exact",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_exact"), 4).alias("recall_at_k"),
    )


def q_sim_recall_audit_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TRAINED-centroid IVF path
    (:func:`q_sim_ivf_trained_topk`) against the exact brute-force top-k —
    the driver-certified form of the recall claim that
    ``tests/test_similarity.py`` pins locally: searching nprobe/K of the
    corpus through the trained cells must decisively beat the nprobe/K
    random-subset recall floor.  (On the near-orthogonal synthetic corpus
    the trained and hash-sampled audits land close together; the floor,
    not the hash-sampled audit, is the certified bound.)

    DECLARED OPERATING POINT (VERDICT r15 item 4, measured r16): the
    nprobe sweep at sf0.1 — 1× and 8× rotated-replica growth,
    ANN_SCALE.json ``nprobe_recall_curve`` — reads recall@10 of
    0.30/0.48/0.62/0.74/0.91/1.00 at nprobe 1/2/3/4/6/8 of K=8,
    scale-invariant: recall is LINEAR in the scanned fraction with no
    knee, because the quantizer partitions structureless data uniformly.
    ``KMEANS_NPROBE = 2`` therefore stays: a 4× scan reduction whose
    recall floor is a DATA property (the planted clusterable fixture,
    ``sim_recall_floor_planted``, reads 1.0 at the same nprobe).  Shape
    pinned in ``test_raw_corpus_recall_tracks_scan_fraction``.

    Same scale shape as ``sim_recall_audit``: the exact side is the
    guarded sampled-query baseline; the reconciliation join is |Q|·k vs
    |Q|·k.  Oracle: the brute-force CTE against the full unrolled k-means
    training + probe + search SQL.
    """
    approx = q_sim_ivf_trained_topk(spark, sf_dir)
    return _recall_vs_exact(spark, sf_dir, approx)


# Planted-recall floor (VERDICT r14 item 3).  The synthetic embedding
# corpus is near-orthogonal, so the trained-IVF recall@10 ≈ 0.49 measured
# in ANN_SCALE.json tracks the nprobe/K sampling floor — on such a corpus
# NO index can do better and the number says nothing about the index.
# This fixture derives a CLUSTERABLE corpus deterministically inside the
# query: C = max(8, ⌊√N⌋) centers (the C lowest-md5 corpus vectors — the
# established hash-spread sample), one member per corpus vector v at
# center (v mod C) + BETA·emb_v.  BETA = 0.125 is an exact binary
# fraction and all arithmetic is elementwise IEEE double, so the member
# vectors are bit-identical across engines.  Geometry: with corpus pair
# cosines ≤ ~0.6, same-cluster members sit at cos ≥ ~0.97 and cross-
# cluster pairs at ≤ ~0.75 — true cluster structure where recall is
# meaningful.  C intentionally equals the adaptive quantizer K, so a
# correctly-trained index maps cells ≈ clusters and nprobe=2 covers the
# query's cluster even when Lloyd splits one.
PLANTED_CLUSTER_BETA = 0.125


def _planted_cluster_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding DOUBLE[]) — the derived clusterable corpus, one
    member per source vector; C = adaptive-K clusters."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    c = _adaptive_k(emb.count(), KNN_K_FLOOR)
    w = Window.orderBy("h", "vec_id")
    centers = (
        emb.withColumn(
            "h", md5_prefix_long(F.col("vec_id").cast("string"), IVF_HASH_WIDTH)
        )
        .orderBy("h", "vec_id")
        .limit(c)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("cidx"),
            F.col("embedding").alias("cv"),
        )
    )
    return (
        emb.withColumn("cidx", F.col("vec_id") % F.lit(c))
        .join(F.broadcast(centers), "cidx")
        .select(
            "vec_id",
            F.zip_with(
                "cv",
                "embedding",
                lambda cvx, ex: cvx + F.lit(PLANTED_CLUSTER_BETA) * ex,
            ).alias("embedding"),
        )
    )


def q_sim_recall_floor_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the trained adaptive-K IVF path on the PLANTED
    clusterable corpus — the certified recall FLOOR: unlike the
    near-orthogonal raw corpus (where recall can only track the nprobe/K
    sampling fraction), this fixture has real cluster structure, so a
    low number here would mean the index is broken, not the data.  The
    recall bar (mean ≥ 0.8) is pinned in tests/test_similarity.py and
    re-measured at 8× corpus growth by tools/ann_recall_probe.py.

    Scale shape: the derived corpus is a broadcast C-row join over the
    embeddings scan (never shuffled by itself); training is the adaptive
    K ∝ √N quantizer (N·K = N^{3/2} work per Lloyd iteration); search
    probes {KMEANS_NPROBE} of K cells for the |Q| = {NUM_QUERY_VECTORS}
    sampled queries; the exact side is the |Q|-row-broadcast streaming
    pass of ``sim_topk_bruteforce``; the reconciliation join is |Q|·k vs
    |Q|·k.  Oracle: the planted-corpus CTEs + unrolled adaptive-K
    k-means + probe/search + brute force + the recall rollup.
    """
    members = session_cache(
        _planted_cluster_corpus(spark, sf_dir), sf_dir, "planted_recall_corpus"
    )
    k = _adaptive_k(table(spark, sf_dir, "embeddings").count(), KNN_K_FLOOR)
    vectors, cent = _kmeans_trained(
        spark, sf_dir, key_prefix="planted_recall", k=k, embeddings=members
    )
    cells = _kmeans_assign(vectors, cent).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    probes = _probe_cells(vectors, cent)
    queries = _query_side(members)
    cands = _with_norm(members, "neighbor_id", "c")
    approx = _rank_exact(
        probes.join(cells, "cell_id")
        .join(queries, "query_id")
        .join(cands, "neighbor_id")
    ).select("query_id", "neighbor_id")
    exact = _rank_exact(F.broadcast(queries).crossJoin(cands)).select(
        "query_id", "neighbor_id"
    )
    return _recall_vs_exact(spark, sf_dir, approx, exact)


def q_sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup CLUSTERS: connected components over the
    embedding-cosine near-dup pair graph — the embedding-space twin of
    ``dedup_clusters_lsh``, and the grouping step a semantic-dedup
    pipeline (SemDeDup-style) runs before keeping one document per
    cluster of meaning-equivalent rewrites.

    Pair-dropping alone mishandles chains a ⇔ b ⇔ c (same argument as
    ``dedup_clusters``); the correct unit is one survivor per component.
    Input pairs are the PLANTED corpus at the production threshold (0.9)
    — the synthetic corpus is near-orthogonal, so only the planted
    variant exercises real cluster structure — and components run through
    the same pointer-doubling ``_cluster_components`` (O(log diameter)
    shuffle rounds, parquet lineage truncation; see dedup.py).  Every
    stage is bucketed-candidate → pair-graph → label-propagation: nothing
    is quadratic in the corpus.  Oracle: recursive-CTE closure over the
    identical planted LSH pair SQL.
    """
    from simple_query_engine_spark.operators.dedup import _cluster_components

    pairs = q_sim_neardup_planted(spark, sf_dir).select(
        F.col("vec_id_a").alias("doc_id_a"), F.col("vec_id_b").alias("doc_id_b")
    )
    return _cluster_components(pairs).select(
        "cluster_id", "cluster_size", F.col("keep_doc_id").alias("keep_vec_id")
    )


SQ_SCALE = 127  # int8 grid: floor(x·127) ∈ [−127, 126] for |x| < 1
SQ_CAND = 32  # coarse candidates per query before the exact rerank


def q_sim_sq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with scalar quantization: an int8-grid coarse
    pass shortlists SQ_CAND candidates per query by integer dot product,
    then exact float cosine reranks the shortlist to TOP_K — the standard
    compressed-first-pass ANN deployment (the full-precision corpus is
    touched only for |queries|·SQ_CAND rows).

    Why this shape at 100 TB: the quantized copy is 4× smaller than
    float32 (int8 per element), so the corpus-wide scan streams a quarter
    of the bytes, and the rerank reads full vectors for a candidate set
    whose size is independent of the corpus.  Exactness: floor(x·127) is
    integral in a double on both engines (no round-half hazard), integer
    dot products over 64 dims stay < 2²⁰ (exact), so the coarse ranking —
    and therefore the shortlist cut at (score, neighbor_id) — is
    engine-identical, and the rerank is the established round-4 cosine.
    """
    base = session_cache(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * SQ_SCALE).cast("double"),
            ).alias("q8"),
        ),
        sf_dir,
        "sim_sq_rerank_base",
    )
    queries = base.filter(F.col("vec_id") < NUM_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("q8").alias("q_q8")
    )
    coarse = (
        F.broadcast(queries)
        .crossJoin(base.select(F.col("vec_id").alias("neighbor_id"), "q8"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("q_q8"), F.col("q8")).alias("iscore"),
        )
    )
    # Shared with the PQ/ADC family: identical (iscore desc, neighbor_id)
    # cut and round-4 cosine rerank, so the SQ and PQ entries can never
    # desynchronize from the common oracle fragments.
    return _pq_exact_rerank(base, _pq_shortlist(coarse))


_SQ_RERANK_SQL = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding::DOUBLE[],
                                  x -> floor(x * {SQ_SCALE})) AS q8,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ), coarse AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.q8, c.q8) AS iscore
            FROM e q JOIN e c
              ON q.vec_id < {NUM_QUERY_VECTORS} AND q.vec_id <> c.vec_id
        ), shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY iscore DESC, neighbor_id)
                       AS cand_rank
                FROM coarse
            ) WHERE cand_rank <= {SQ_CAND}
        ), scored AS (
            SELECT s.query_id, s.neighbor_id,
                   ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                       AS similarity
            FROM shortlist s
            JOIN e q ON q.vec_id = s.query_id
            JOIN e c ON c.vec_id = s.neighbor_id
        )
        {_page_sql("scored")}
"""


PQ_M = 8  # sub-codebooks: 64 dims → 8 subspaces × 8 dims
PQ_DSUB = 8  # dims per subspace; 2^8 = 256 codes = one byte per subspace


def q_sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with product quantization (VERDICT r08 item 7,
    completing the SQ→PQ compressed-retrieval family): each corpus vector
    is encoded as PQ_M one-byte codes (one per 8-dim subspace); the
    coarse pass scores candidates via the classic ADC (asymmetric
    distance computation) trick — a per-query lookup table of
    PQ_M × 256 precomputed partial dot products, so the corpus-wide scan
    touches ONLY the 8-byte codes and does 8 table lookups per vector —
    then exact float cosine reranks the SQ_CAND shortlist to TOP_K.

    Codebook: deterministic sign-grid — subspace code byte = the 8 sign
    bits of the subvector, decoded center = ±1 per dim (the
    integer-exact stand-in for trained k-means centroids; the ADC
    machinery is identical, and determinism is what makes the shortlist
    oracle-checkable bit-for-bit).  The LUT entry for (subspace s, code
    c) is Σ_d (±1 from c's bit d) · qi[s·8+d] with qi = floor(q·127)
    (the SQ grid) — all-integer, so LUT sums and scores are exact in
    both engines, and the PQ-ADC score provably equals the plain
    sign-dot-product Σ_d sgn(corpus_d)·qi_d, which is what the DuckDB
    oracle computes directly (the oracle checks the ADC path collapses
    to the algebraic form).

    Why this shape at 100 TB: codes are 8 bytes/vector vs 512 bytes of
    float64 — a 64× smaller scan than brute force and 4× smaller than
    the SQ copy; the LUT build is per-query O(M·256) and broadcast; the
    full-precision corpus is touched only for |queries|·SQ_CAND rows.
    This is the IVFADC coarse stage (minus the IVF partition — the full
    composition is ``sim_ivfadc_topk``).
    """
    base = _pq_base(spark, sf_dir)
    queries = _pq_lut_queries(base)
    coarse = (
        F.broadcast(queries)
        .crossJoin(base.select(F.col("vec_id").alias("neighbor_id"), "codes"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pq_iscore().alias("iscore"))
    )
    return _pq_exact_rerank(base, _pq_shortlist(coarse))


def _pq_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (vec_id, embedding, codes) table — each vector's
    PQ_M one-byte sign-grid codes (see :func:`q_sim_pq_rerank`)."""
    return session_cache(
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            # PQ encode: one byte per subspace — the sign bits of the 8 dims.
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda s: sum(
                    F.shiftleft(
                        (
                            F.element_at(
                                F.col("embedding"), (s * PQ_DSUB + d + 1).cast("int")
                            )
                            >= 0
                        ).cast("long"),
                        d,
                    )
                    for d in range(PQ_DSUB)
                ),
            ).alias("codes"),
        ),
        sf_dir,
        "sim_pq_base",
    )


def _pq_lut_queries(base: DataFrame) -> DataFrame:
    """(query_id, lut) — the per-query flattened ADC lookup table:
    lut[s*256 + c] = Σ_d (±1 from code c's bit d) · qi[s*8+d]."""
    qi = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * SQ_SCALE).cast("long"),
    )
    lut_index = F.sequence(F.lit(0), F.lit(PQ_M * 256 - 1))
    return (
        base.filter(F.col("vec_id") < NUM_QUERY_VECTORS)
        .withColumn("qi", qi)
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                lut_index,
                lambda i: sum(
                    (
                        F.shiftright(i.bitwiseAND(F.lit(255)), d).bitwiseAND(F.lit(1))
                        * 2
                        - 1
                    )
                    * F.element_at(
                        F.col("qi"),
                        (F.shiftright(i, 8) * PQ_DSUB + d + 1).cast("int"),
                    )
                    for d in range(PQ_DSUB)
                ),
            ).alias("lut"),
        )
    )


def _pq_iscore() -> Column:
    """Coarse ADC score over the ``lut``/``codes`` columns: 8 table
    lookups per (query, vector) — the corpus side touches codes only."""
    return sum(
        F.element_at(
            F.col("lut"),
            (F.lit(s * 256 + 1) + F.element_at(F.col("codes"), s + 1)).cast("int"),
        )
        for s in range(PQ_M)
    )


def _pq_shortlist(coarse: DataFrame) -> DataFrame:
    """Top SQ_CAND candidates per query by (iscore desc, neighbor_id)."""
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("neighbor_id")
    )
    return (
        coarse.withColumn("cand_rank", F.row_number().over(w_coarse))
        .filter(F.col("cand_rank") <= SQ_CAND)
        .select("query_id", "neighbor_id")
    )


def _pq_exact_rerank(base: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact-cosine rerank of a (query_id, neighbor_id) shortlist to
    TOP_K — the full-precision corpus is touched only for |queries| ×
    SQ_CAND rows."""
    c_full = _with_norm(base, "neighbor_id", "c")
    q_full = F.broadcast(_query_side(base))
    return _rank_exact(shortlist.join(c_full, "neighbor_id").join(q_full, "query_id"))


def q_sim_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + ADC — the full production vector-index layout (the faiss
    ``IVFx,PQy`` composition): the trained coarse quantizer partitions
    the corpus into posting lists, each query probes its {KMEANS_NPROBE}
    nearest cells, the coarse pass scores ONLY the probed posting lists
    and touches ONLY their {PQ_M}-byte codes (the ``sim_pq_rerank`` ADC
    lookup tables), and exact cosine reranks the SQ_CAND shortlist.
    Compound scan reduction at 100 TB: nprobe/K of the corpus ×
    8 bytes/vector — the partition and the compression multiply, which
    is why this layout serves billion-vector indexes.

    Codebook honesty: codes are the GLOBAL sign-grid of the raw vector
    (``sim_pq_rerank``'s integer-exact codebook), not per-cell residual
    codes — residual refinement is a codebook-training concern,
    orthogonal to the partition+ADC plumbing this entry composes; with
    the sign codebook the ADC score provably collapses to
    Σ_d sgn(c_d)·⌊q_d·{SQ_SCALE}⌋, which is what the oracle computes
    over the probed cells.  All three stages reuse their certified
    building blocks (k-means cells, posting-list probe join, LUT coarse
    scan, exact rerank) — the new claim under test is the composition.
    """
    vectors, cent = _kmeans_trained(spark, sf_dir)
    members = _kmeans_assign(vectors, cent).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    base = _pq_base(spark, sf_dir)
    probes = _probe_cells(vectors, cent)
    queries = _pq_lut_queries(base)
    coarse = (
        F.broadcast(probes)
        .join(members, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(queries), "query_id")
        .join(base.select(F.col("vec_id").alias("neighbor_id"), "codes"), "neighbor_id")
        .select("query_id", "neighbor_id", _pq_iscore().alias("iscore"))
    )
    return _pq_exact_rerank(base, _pq_shortlist(coarse))


# The oracle computes the coarse score in its algebraically-collapsed
# form (Σ_d sgn(corpus_d)·floor(query_d·127) — see the ADC derivation in
# the docstring), so a hash-match proves the Spark side's code/LUT
# machinery reduces to exactly that function.
_PQ_RERANK_SQL = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(floor(x * {SQ_SCALE}) AS BIGINT)) AS qi,
                   list_transform(embedding::DOUBLE[],
                                  x -> CASE WHEN x >= 0 THEN CAST(1 AS BIGINT)
                                            ELSE CAST(-1 AS BIGINT) END) AS sgn,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ), coarse AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.qi, c.sgn) AS iscore
            FROM e q JOIN e c
              ON q.vec_id < {NUM_QUERY_VECTORS} AND q.vec_id <> c.vec_id
        ), shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY iscore DESC, neighbor_id)
                       AS cand_rank
                FROM coarse
            ) WHERE cand_rank <= {SQ_CAND}
        ), scored AS (
            SELECT s.query_id, s.neighbor_id,
                   ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4)
                       AS similarity
            FROM shortlist s
            JOIN e q ON q.vec_id = s.query_id
            JOIN e c ON c.vec_id = s.neighbor_id
        )
        {_page_sql("scored")}
"""


# --------------------------------------------------------------------------
# Integer-exact k-means (Lloyd) training
# --------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
# Work in SHIFTED integer space: floor(x·EMB_SCALE) + OFFSET ≥ 0 for every
# component (|x| < 0.5 → |scaled| ≤ 5 000 < 8 192), so the centroid-update
# integer division sits on non-negative operands where floor == truncate in
# both engines (the repo's integer-division convention).  Distances are
# shift-invariant, so the clustering is unaffected.
KMEANS_OFFSET = 8_192
EMB_DIM = 64


def kmeans_shifted_sv(embedding: Column) -> Column:
    """embedding (array<float>) → the shifted-integer grid vector
    (floor(x·EMB_SCALE) + KMEANS_OFFSET as long) every k-means-family
    operator quantizes on.  The SINGLE definition of the formula
    (ADVICE r16): batch training (:func:`_kmeans_trained`) and the
    streaming index-append door (``streaming_ops.ingest_ivf_batch``)
    both call this, so batch-assigned and stream-assigned cells can
    never silently diverge on a formula change."""
    return F.transform(
        embedding,
        lambda x: (F.floor(x.cast("double") * EMB_SCALE) + KMEANS_OFFSET).cast(
            "long"
        ),
    )


def _kmeans_sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _kmeans_assign(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """Each vector's nearest centroid (ties → lowest cell_id) — a broadcast
    crossJoin against the K-row centroid table, collapsed by an
    aggregating arg-min (map-side partial agg; the ``sim_ivf_topk``
    construction), never a corpus-wide window."""
    scored = vectors.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "sv",
        "cell_id",
        _kmeans_sqdist(F.col("sv"), F.col("cv")).alias("d"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("d"), F.col("cell_id"))).alias("best"),
            F.first("sv").alias("sv"),
        )
        .select(
            "vec_id", "sv", F.col("best.cell_id").alias("cell_id"), F.col("best.d").alias("d")
        )
    )


def _kmeans_trained(
    spark: SparkSession,
    sf_dir: str,
    base_filter: Column | None = None,
    key_prefix: str = "kmeans",
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    embeddings: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(shifted-integer vectors — ALL of them, trained K-row centroid
    table) after KMEANS_ITERS Lloyd iterations — shared by the catalog
    entries and the IVF-with-trained-centroids recall audit in tests.
    ``base_filter`` restricts the TRAINING set (seeds and iterations);
    the returned ``vectors`` frame is always the full corpus, so callers
    can assign rows the quantizer never saw (the index-append path).
    ``key_prefix`` keys the per-iteration session caches — a filtered
    training run must not collide with the default one.  ``embeddings``
    overrides the corpus (a derived (vec_id, embedding) frame — the
    planted-recall fixture); default is the sf_dir embeddings table."""
    if embeddings is None:
        embeddings = table(spark, sf_dir, "embeddings")
    vectors = embeddings.select(
        "vec_id", kmeans_shifted_sv(F.col("embedding")).alias("sv")
    )
    base = vectors.filter(base_filter) if base_filter is not None else vectors
    seeds = (
        base.withColumn(
            "h", md5_prefix_long(F.col("vec_id").cast("string"), IVF_HASH_WIDTH)
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cell_id"), F.col("sv").alias("cv"))
    )
    # EVERY iteration's K-row centroid table is materialized, not just
    # the final one (r18): with session_cache the it-th plan still embeds
    # the (it-1)-th's full lineage, so each training CONSTRUCTION re-built
    # and re-canonicalized a chain that deepens per iteration (measured:
    # ~1 s of py4j/analysis per training per pass in sim_ivf_rebuild).
    # Materialized, every iteration builds on a K-row scan leaf — plan
    # depth is constant, the writes are trivial, and values are the same
    # rows the cache served (see session_materialize; process-scoped).
    from simple_query_engine_spark.functions.caching import session_materialize

    cent = session_materialize(seeds, sf_dir, f"{key_prefix}_cent_0")
    for it in range(1, iters + 1):
        assigned = _kmeans_assign(base, cent)
        dims = assigned.select("cell_id", F.posexplode("sv").alias("j", "x"))
        means = dims.groupBy("cell_id", "j").agg(
            F.expr("sum(x) div count(1)").alias("m")
        )
        updated = means.groupBy("cell_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "m"))), lambda s: s.m
            ).alias("new_cv")
        )
        cent = session_materialize(
            cent.join(updated, "cell_id", "left").select(
                "cell_id", F.coalesce("new_cv", "cv").alias("cv")
            ),
            sf_dir,
            f"{key_prefix}_cent_{it}",
        )
    return vectors, cent


def q_sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED coarse quantizer for the IVF family: {KMEANS_ITERS} full
    Lloyd iterations of k-means (k = {KMEANS_K}) in EXACT integer
    arithmetic — the piece ``sim_ivf_topk`` deliberately left out (float
    k-means depends on accumulation order and can't be oracle-checked).
    Embeddings move to the shifted integer grid (floor(x·EMB_SCALE) +
    KMEANS_OFFSET); distances are integer squared L2; the centroid update
    is per-dimension integer division (floor-quantized means on
    non-negative operands — engine-identical); ties break to the lowest
    cell id; empty cells keep their previous centroid.  Seeds are the
    KMEANS_K lowest-md5-hash vectors (the ``sim_ivf_topk`` hash-spread
    sample).  Output: one row per cell — final membership count, integer
    inertia, and the md5 checksum of the trained centroid vector (pinning
    the exact centroid, not just its statistics).

    Shape at 100 TB: per iteration, assignment is a broadcast K-row map
    over the corpus collapsed by map-side arg-min aggregation (ONE keyed
    shuffle of (vec_id) groups); the update is a posexplode into
    (cell, dim) keys — K·{EMB_DIM} groups, partial-aggregated map-side —
    and the K-row centroid table is session-cached per iteration, so plan
    depth is linear in iterations (the ``graph_pagerank_neardup``
    fixed-iteration discipline).  Oracle: unrolled assignment/update CTE
    pairs (``_pagerank_oracle_sql`` pattern).  Recall of IVF search with
    these trained centroids vs brute force is pinned in
    tests/test_similarity.py.
    """
    vectors, cent = _kmeans_trained(spark, sf_dir)
    final = _kmeans_assign(vectors, cent)
    report = final.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d").alias("inertia"),
    )
    checks = cent.select(
        "cell_id",
        F.md5(
            F.concat_ws("|", F.transform("cv", lambda x: x.cast("string")))
        ).alias("centroid_md5"),
    )
    return report.join(checks, "cell_id")


# Oracle text: integer squared L2 between a ``v.sv`` vector and a
# ``c.cv`` centroid.
_SQDIST_SQL = (
    f"CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}), "
    "j -> (v.sv[j] - c.cv[j]) * (v.sv[j] - c.cv[j]))) AS BIGINT)"
)


def _probes_oracle_cte(final_cent: str, all_vectors: bool = False) -> str:
    """Oracle ``probes`` CTE: each query vector's (with ``all_vectors``,
    every vector's) KMEANS_NPROBE nearest ``final_cent`` cells, ties to
    the lowest cell_id."""
    where = "" if all_vectors else f"WHERE v.vec_id < {NUM_QUERY_VECTORS}"
    return f"""probes AS (
            SELECT query_id, cell_id FROM (
                SELECT v.vec_id AS query_id, c.cell_id,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                          ORDER BY {_SQDIST_SQL}, c.cell_id) AS rn
                FROM v, {final_cent} c
                {where}
            ) WHERE rn <= {KMEANS_NPROBE}
        )"""


def _kmeans_oracle_parts(
    k: int | str = KMEANS_K,
    iters: int = KMEANS_ITERS,
    base_where: str = "",
    batch_where: str = "",
    source: str = "embeddings",
) -> tuple[list[str], str, str]:
    """The shared unrolled-CTE core of the k-means oracles: returns the
    CTE list, the name of the final centroid CTE, and the name of the
    posting-list (membership) CTE.  ``k`` may be an int literal or a SQL
    scalar-subquery string (the adaptive ``_adaptive_k_sql`` dial —
    DuckDB accepts subquery LIMIT operands).  ``base_where`` restricts the TRAINING
    set (seeds + iterations + the final ``af`` assignment);
    ``batch_where`` adds an ``abatch`` assignment of the held-out rows to
    the final centroids and a union CTE ``am`` — the index-append twin."""

    def assign(name: str, cent: str, src: str = "v") -> str:
        return f"""{name} AS (
            SELECT vec_id, sv, cell_id, d FROM (
                SELECT vec_id, sv, cell_id, d,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d, cell_id) AS rn
                FROM (
                    SELECT v.vec_id, v.sv, c.cell_id, {_SQDIST_SQL} AS d
                    FROM {src} v, {cent} c
                )
            ) WHERE rn = 1
        )"""

    parts = [
        f"""v AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * {EMB_SCALE})
                                 + {KMEANS_OFFSET} AS BIGINT)) AS sv
            FROM {source}
        )""",
    ]
    train_src = "v"
    if base_where:
        parts.append(f"vb AS (SELECT * FROM v WHERE {base_where})")
        train_src = "vb"
    parts.append(
        f"""c0 AS (
            SELECT vec_id AS cell_id, sv AS cv FROM {train_src}
            ORDER BY {md5_prefix_long_sql("CAST(vec_id AS VARCHAR)", IVF_HASH_WIDTH)},
                     vec_id
            LIMIT {k}
        )"""
    )
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", prev, train_src))
        parts.append(
            f"""m{i} AS (
            SELECT cell_id, j,
                   CAST(SUM(sv[j]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
            FROM a{i}, (SELECT unnest(range(1, {EMB_DIM + 1})) AS j) dims
            GROUP BY cell_id, j
        )"""
        )
        parts.append(
            f"""c{i} AS (
            SELECT c.cell_id, COALESCE(n.cv, c.cv) AS cv
            FROM {prev} c LEFT JOIN (
                SELECT cell_id, list(m ORDER BY j) AS cv
                FROM m{i} GROUP BY cell_id
            ) n USING (cell_id)
        )"""
        )
        prev = f"c{i}"
    parts.append(assign("af", prev, train_src))
    members = "af"
    if batch_where:
        parts.append(
            assign("abatch", prev, f"(SELECT * FROM v WHERE {batch_where})")
        )
        parts.append(
            """am AS (
            SELECT vec_id, cell_id FROM af
            UNION ALL SELECT vec_id, cell_id FROM abatch
        )"""
        )
        members = "am"
    return parts, prev, members


def _kmeans_oracle_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """Unrolled-CTE DuckDB twin of :func:`q_sim_kmeans_train` — one
    (assignment, update) CTE pair per Lloyd iteration."""
    parts, final_cent, _ = _kmeans_oracle_parts(k, iters)
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        rep AS (
            SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(SUM(d) AS BIGINT) AS inertia
            FROM af GROUP BY cell_id
        )
        SELECT r.cell_id, r.n_members, r.inertia,
               md5(array_to_string(list_transform(c.cv,
                   x -> CAST(x AS VARCHAR)), '|')) AS centroid_md5
        FROM rep r JOIN {final_cent} c USING (cell_id)"""
    )


POWER_ITERS = 5  # fixed power-method iterations (pagerank discipline)
POWER_VSCALE = 10_000  # per-iteration rescale grid for the direction


def q_sim_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL DIRECTION of the embedding corpus by the power
    method on the (uncentered) second-moment matrix — {POWER_ITERS}
    fixed iterations of v ← XᵀXv with per-iteration integer rescale:
    the anisotropy probe run before choosing ANN parameters (a strongly
    anisotropic corpus wants OPQ-style rotation; embeddings' "dominant
    direction" is also the classic all-but-the-top postprocessing
    target).  Iterative LINEAR ALGEBRA under the repo's fixed-iteration
    integer discipline: floor-grid vectors (floor(x·{EMB_SCALE})), all
    products and sums exact int64, per-iteration rescale
    ``v_j ← w_j·{POWER_VSCALE} div max|w|`` (components are SIGNED —
    safe because both engines' integer division truncates toward zero,
    the r11-verified engine fact).  v₀ = all-ones: deterministic, and
    never orthogonal to a nonnegative-correlation-dominated top
    direction.

    Fully relational — no driver-side vector: per iteration, d = Xv is
    an exploded (vec, dim, val) join against the BROADCAST 64-row
    direction + a per-vector sum; w = Xᵀd joins d back per-vector and
    sums per dimension (64 groups, map-side combined); the rescale is a
    broadcast 1-row max.  {POWER_ITERS} iterations ⇒ linear plan depth
    with the per-iteration direction session-cached (the kmeans
    truncation discipline).  Int64 headroom: |w_j| ≤ N·64·{EMB_SCALE}²·
    {POWER_VSCALE} ≈ N·6.4e13 — exact to N ≈ 10⁵ vectors at this grid;
    beyond that, production rescales the grid or shards the sum
    (declared bound, same spirit as BM25's token bound).

    Output: the 64 (dim_idx, component) rows of the final direction —
    hash-exact; the oracle unrolls the iterations as CTE chains."""
    emb = table(spark, sf_dir, "embeddings")
    sv = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * EMB_SCALE).cast("long"),
        ).alias("sv"),
    )
    exploded = session_cache(
        sv.select(
            "vec_id", F.posexplode("sv").alias("j0", "val")
        ).select("vec_id", (F.col("j0") + 1).alias("j"), "val"),
        sf_dir,
        "power_iter_exploded",
    )
    v = None  # (j, vj); None means v0 = all ones
    for it in range(1, POWER_ITERS + 1):
        if v is None:
            d = exploded.groupBy("vec_id").agg(F.sum("val").alias("d"))
        else:
            d = (
                exploded.join(F.broadcast(v), "j")
                .groupBy("vec_id")
                .agg(F.sum(F.col("val") * F.col("vj")).alias("d"))
            )
        w = (
            exploded.join(d, "vec_id")
            .groupBy("j")
            .agg(F.sum(F.col("val") * F.col("d")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = session_cache(
            w.crossJoin(F.broadcast(m)).select(
                "j", F.expr(f"w * {POWER_VSCALE} div m").alias("vj")
            ),
            sf_dir,
            f"power_iter_v{it}",
        )
    return v.select(F.col("j").alias("dim_idx"), F.col("vj").alias("component"))


def _power_iteration_oracle_sql() -> str:
    """Unrolled power-method twin: per iteration a d CTE (per-vector
    integer dot against the previous direction), a w CTE (per-dimension
    integer sums), and the truncating rescale; everything BIGINT via
    SUM→CAST (never list_dot_product — its double sums lose exactness
    past 2^53)."""
    parts = [
        f"""sv AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * {EMB_SCALE}) AS BIGINT)) AS sv
            FROM embeddings
        )""",
        f"""ex AS (
            SELECT vec_id, j, sv[j] AS val
            FROM sv, (SELECT unnest(range(1, {EMB_DIM + 1})) AS j) dims
        )""",
    ]
    prev_v = None
    for it in range(1, POWER_ITERS + 1):
        if prev_v is None:
            parts.append(
                f"d{it} AS (SELECT vec_id, CAST(SUM(val) AS BIGINT) AS d "
                "FROM ex GROUP BY vec_id)"
            )
        else:
            parts.append(
                f"""d{it} AS (
            SELECT e.vec_id, CAST(SUM(e.val * v.vj) AS BIGINT) AS d
            FROM ex e JOIN {prev_v} v USING (j) GROUP BY e.vec_id
        )"""
            )
        parts.append(
            f"""w{it} AS (
            SELECT e.j, CAST(SUM(e.val * d.d) AS BIGINT) AS w
            FROM ex e JOIN d{it} d USING (vec_id) GROUP BY e.j
        )"""
        )
        parts.append(
            f"""v{it} AS (
            SELECT j, w * {POWER_VSCALE}
                   // (SELECT MAX(ABS(w)) FROM w{it}) AS vj
            FROM w{it}
        )"""
        )
        prev_v = f"v{it}"
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f"""
        SELECT CAST(j AS INT) AS dim_idx, CAST(vj AS BIGINT) AS component
        FROM {prev_v}"""
    )


def q_sim_centroid_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX-HEALTH audit — the report a vector-store operator reads
    before trusting an index: populated/empty cell counts, min/max
    posting-list sizes, and the imbalance factor
    (max·populated·10⁶ div total = max/mean in exact ppm).  Imbalance is
    the quantity that decides whether probed-cell scans skew (one hot
    cell makes every nprobe query that probes it pay its size) and
    whether the index needs retraining or cell splitting; empty cells
    waste probe budget.  Completes the index lifecycle family: train →
    search → append → delete → AUDIT.

    Exactness: all counts integers; the ratio is integer division on
    non-negative operands.  Shape: one map-side-combined count per cell
    (K rows), then a single-row rollup — metadata-sized at any corpus.
    """
    vectors, cent = _kmeans_trained(spark, sf_dir)
    sizes = _kmeans_assign(vectors, cent).groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_cells_populated"),
        (F.lit(KMEANS_K) - F.count(F.lit(1))).cast("long").alias("n_cells_empty"),
        F.sum("n").alias("total_vecs"),
        F.max("n").alias("max_members"),
        F.min("n").alias("min_members"),
        F.expr("max(n) * count(1) * 1000000 div sum(n)").alias("imbalance_ppm"),
    )


def _centroid_balance_oracle_sql() -> str:
    """K-means CTEs + per-cell sizes + the single-row health rollup."""
    parts, _final_cent, members = _kmeans_oracle_parts()
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        sizes AS (
            SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM {members} GROUP BY cell_id
        )
        SELECT COUNT(*) AS n_cells_populated,
               CAST({KMEANS_K} - COUNT(*) AS BIGINT) AS n_cells_empty,
               CAST(SUM(n) AS BIGINT) AS total_vecs,
               CAST(MAX(n) AS BIGINT) AS max_members,
               CAST(MIN(n) AS BIGINT) AS min_members,
               (CAST(MAX(n) AS BIGINT) * CAST(COUNT(*) AS BIGINT) * 1000000)
                   // CAST(SUM(n) AS BIGINT) AS imbalance_ppm
        FROM sizes"""
    )


KMEANS_NPROBE = 2  # of KMEANS_K cells — the trained-IVF recall/throughput dial


def q_sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k through the TRAINED coarse quantizer — the composition
    that completes the IVF story: ``sim_ivf_topk`` probes hash-sampled
    cells, this entry probes the :func:`q_sim_kmeans_train` k-means
    cells (integer-exact training → the whole trained pipeline stays
    oracle-checked, which float k-means could never be).

    Same physical discipline as ``sim_ivf_topk``: assignment is the
    broadcast arg-min aggregate over the corpus; the nprobe ranking
    window touches only the filter-pruned query rows; the search joins
    probes to cell members on cell_id and ranks exact cosine (double
    math, identical order of operations to the brute-force baseline).
    At 100 TB the search scans nprobe/K of the corpus — with centroids
    that now ADAPT to the data instead of being a hash sample (recall
    improvement pinned in tests/test_similarity.py).
    """
    return _ivf_trained_search(spark, sf_dir)


def _ivf_trained_search(
    spark: SparkSession,
    sf_dir: str,
    cand_filter: Column | None = None,
    pair_filter: Column | None = None,
    radius: float | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """:func:`_ivf_search` over the trained quantizer's standing posting
    lists — shared by the top-k, filtered, hard-negative, range and
    diversified entries, which differ only in the arguments passed
    through."""
    vectors, cent = _kmeans_trained(spark, sf_dir)
    # The trained posting lists are the standing index every trained-IVF
    # read path shares (top-k, range, diverse, hard-negatives, the
    # rebuild audit) — materialized once per session (r18, the
    # centroid-table discipline one level up): consumers start from a
    # 2-int-per-vector scan leaf instead of re-analyzing and re-running
    # the corpus-wide arg-min assignment per entry per pass.
    from simple_query_engine_spark.functions.caching import session_materialize

    members = session_materialize(
        _kmeans_assign(vectors, cent).select(
            F.col("vec_id").alias("neighbor_id"), "cell_id"
        ),
        sf_dir,
        "ivf_trained_members",
    )
    return _ivf_search(
        spark,
        sf_dir,
        vectors,
        cent,
        members,
        cand_filter,
        pair_filter,
        radius,
        cell_cap,
    )


def _probe_cells(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """(query_id, cell_id) probe set: every query vector's KMEANS_NPROBE
    nearest trained cells, ties to the lowest cell_id — the ONE probe
    ranking every trained-IVF read path shares (search, diverse top-k,
    IVFADC), so probe semantics cannot drift between entries whose
    oracles all assume the identical ORDER BY d, cell_id ranking."""
    probe_scored = (
        vectors.filter(F.col("vec_id") < NUM_QUERY_VECTORS)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            "cell_id",
            _kmeans_sqdist(F.col("sv"), F.col("cv")).alias("d"),
        )
    )
    w_probe = Window.partitionBy("query_id").orderBy("d", "cell_id")
    return (
        probe_scored.withColumn("cell_rank", F.row_number().over(w_probe))
        .filter(F.col("cell_rank") <= KMEANS_NPROBE)
        .select("query_id", "cell_id")
    )


def _ivf_search(
    spark: SparkSession,
    sf_dir: str,
    vectors: DataFrame,
    cent: DataFrame,
    members: DataFrame,
    cand_filter: Column | None = None,
    pair_filter: Column | None = None,
    radius: float | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """The trained-quantizer candidate strategy: nprobe cells per query
    against ``cent``, joined to the probed ``members`` (posting lists
    keyed by cell_id), then ranked by :func:`_rank_exact` (``radius`` and
    ``cell_cap`` pass through).  ``cand_filter`` statically restricts the
    candidate scan; ``pair_filter`` is a per-(query, candidate) predicate
    over ``q_label``/``c_label`` applied after the probe join, before
    ranking (hard-negative mining)."""

    def label(side: str) -> list[Column]:
        if pair_filter is None:
            return []
        return [F.col("label").alias(f"{side}_label")]

    embeddings = table(spark, sf_dir, "embeddings")
    cands_src = embeddings if cand_filter is None else embeddings.filter(cand_filter)
    joined = (
        F.broadcast(_probe_cells(vectors, cent))
        .join(members, "cell_id")
        .join(F.broadcast(_query_side(embeddings, *label("q"))), "query_id")
        .join(_with_norm(cands_src, "neighbor_id", "c", *label("c")), "neighbor_id")
    )
    if pair_filter is not None:
        joined = joined.filter(pair_filter)
    return _rank_exact(joined, radius=radius, cell_cap=cell_cap)


# Radius for the range-search entry — inside the corpus's probed-cosine
# range (top-k pages span ~0.17-0.37 at every SF), so the result is
# non-empty and data-dependent in size: the defining property vs top-k.
SIM_RANGE_THRESHOLD = 0.25


def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) search through the trained IVF index: every probed
    candidate with cosine ≥ {SIM_RANGE_THRESHOLD}, however many there
    are — the "find ALL sufficiently-similar items" operation (near-dup
    lookup of an incoming document, recall-oriented retrieval, contamination
    probes) where top-k's fixed page either truncates dense neighborhoods
    or pads sparse ones.  Same probe-and-rank core as
    ``sim_ivf_trained_topk`` with the top-k window REPLACED by the radius
    predicate — physically cheaper, not costlier: no per-query window at
    all, the scored candidate rows filter directly, so the plan is
    probe → posting join → cosine → filter, entirely windowless.

    At 100 TB the scan still touches nprobe/K of the corpus per query;
    the radius only changes how many of those candidates survive, and
    result size scales with true neighborhood density (the operator's
    point).  Recall caveat identical to IVF top-k: matches outside the
    probed cells are missed; the audit-entry pattern
    (``sim_recall_audit_trained``) applies unchanged."""
    return _ivf_trained_search(spark, sf_dir, radius=SIM_RANGE_THRESHOLD)


DIVERSE_CELL_CAP = 2  # max results per coarse cell in the diversified page


def q_sim_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSIFIED top-k through the trained IVF index: at most
    {DIVERSE_CELL_CAP} results per coarse cell make it into each query's
    page — the cheap, deterministic form of result diversification
    (MMR-lite): the coarse cells ARE a clustering of the corpus, so
    capping per-cell contribution forces the page to span distinct
    regions of embedding space instead of returning {TOP_K} members of
    one dense cluster.  The retrieval-for-training use: hard-negative /
    example pages that cover modes rather than repeat one.

    Two-stage ranking, both total orders: within (query, cell) keep the
    top {DIVERSE_CELL_CAP} by (similarity desc, neighbor_id), then rank
    the survivors globally per query to {TOP_K}.  Oracle: the trained-IVF
    SQL with the same two ROW_NUMBER stages.

    Scale shape: identical probe volume to ``sim_ivf_trained_topk``
    (nprobe/K of the corpus per query); the extra window partitions by
    (query_id, cell_id) — FINER than the per-query window, so no new
    skew risk — and feeds the per-query window at most
    nprobe·{DIVERSE_CELL_CAP} rows."""
    return _ivf_trained_search(spark, sf_dir, cell_cap=DIVERSE_CELL_CAP)


def _diverse_topk_oracle_sql() -> str:
    """Trained-IVF probe SQL with the two-stage (per-cell cap, then
    per-query page) ROW_NUMBER ranking of q_sim_diverse_topk."""
    parts, final_cent, members = _kmeans_oracle_parts()
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        {_probes_oracle_cte(final_cent)},
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS ev,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        searched AS (
            SELECT p.query_id, a.vec_id AS neighbor_id, a.cell_id,
                   ROUND(list_dot_product(qe.ev, ce.ev)
                         / (qe.nrm * ce.nrm), 4) AS similarity
            FROM probes p
            JOIN {members} a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
            JOIN e qe ON qe.vec_id = p.query_id
            JOIN e ce ON ce.vec_id = a.vec_id
        ),
        capped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, cell_id
                                             ORDER BY similarity DESC,
                                                      neighbor_id) AS cell_slot
                FROM searched
            ) WHERE cell_slot <= {DIVERSE_CELL_CAP}
        )
        SELECT query_id, neighbor_id, cell_id, similarity, sim_rank FROM (
            SELECT query_id, neighbor_id, cell_id, similarity,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY similarity DESC,
                                               neighbor_id) AS sim_rank
            FROM capped
        ) WHERE sim_rank <= {TOP_K}"""
    )


# The metadata predicate of the filtered-search entry: candidates must
# carry an even label (half the corpus) — stand-in for the tenant /
# language / license filters every production vector store supports.
FILTER_LABELS = (0, 2, 4, 6, 8)


def q_sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: trained-IVF top-k where candidates must
    also satisfy a metadata predicate (``label IN {FILTER_LABELS}``) —
    the filtered-ANN operation every production vector store exposes
    (tenant, language, license, freshness filters).

    Semantics are PRE-filtering: the predicate prunes the posting lists
    before ranking, so each query still gets up to k neighbors from the
    allowed subset (post-filtering the unfiltered top-k would under-fill
    k whenever the filter is selective).  The index is built once over
    the FULL corpus; the filter composes at query time — no per-filter
    index rebuild.  Physically the predicate sits on the candidate-side
    parquet scan (pushed to the reader) and the inner join against the
    probed cell members applies it before any cosine is computed; at
    100 TB the scan touches nprobe/K of the corpus times the filter's
    selectivity.  Queries come from the whole corpus (no filter on the
    query side).  Oracle: the trained-IVF SQL with the same WHERE on the
    candidate CTE.
    """
    return _ivf_trained_search(
        spark, sf_dir, cand_filter=F.col("label").isin(*FILTER_LABELS)
    )


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: per query vector,
    the top-k most similar candidates whose label DIFFERS from the
    query's — the highest-similarity wrong-class neighbors are exactly
    the pairs an embedding-model trainer wants in the negatives batch
    (easy negatives teach nothing; these sit right at the decision
    boundary).

    Where ``sim_filtered_topk`` applies one STATIC predicate to the
    candidate scan, the anti-label constraint here is PER-QUERY — it can
    only be evaluated on the (query, candidate) pair, so it sits after
    the posting-list probe join and before ranking.  Scan cost is
    unchanged from the trained-IVF search (nprobe/K of the corpus); the
    pair predicate drops rows mid-pipeline, JVM-side, before any cosine
    leaves the stage.  At 100 TB this is the mining pass a contrastive
    pipeline runs per epoch over a sampled query set.  Oracle: the
    trained-IVF SQL with labels carried through the vector CTEs and the
    inequality on the searched pair.
    """
    return _ivf_trained_search(
        spark, sf_dir, pair_filter=F.col("q_label") != F.col("c_label")
    )


# Index-append split: vectors with vec_id ≡ IVF_BATCH_REM (mod
# IVF_BATCH_MOD) play the late-arriving batch (~10% of the corpus); the
# quantizer trains on the other ~90%.
IVF_BATCH_MOD = 10
IVF_BATCH_REM = 7


def q_sim_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance: a late-arriving batch (~1/
    {IVF_BATCH_MOD} of the corpus) is appended to the trained IVF index
    WITHOUT retraining — each new vector is assigned to its nearest
    existing centroid and lands in that posting list, exactly how a
    production IVF deployment absorbs new data between periodic retrains
    (the ``dedup_incremental_minhash`` discipline applied to ANN).

    The quantizer trains only on the base (the batch never influences
    the centroids — pinned by test: centroids are identical with the
    batch deleted), the base posting lists are the session-cached
    standing index, and the append step is ONE broadcast K-row arg-min
    over just the batch — per-batch cost ∝ batch size, never a corpus
    pass.  Search then runs over base ∪ appended postings; queries probe
    the same centroids.  At 100 TB the standing index persists and each
    ingest micro-batch pays only its own assignment.  Oracle: unrolled
    k-means CTEs over the base, one extra assignment CTE for the batch,
    search over the union.
    """
    is_batch = F.col("vec_id") % IVF_BATCH_MOD == F.lit(IVF_BATCH_REM)
    vectors, cent = _kmeans_trained(
        spark, sf_dir, base_filter=~is_batch, key_prefix="kmeans_app"
    )
    from simple_query_engine_spark.functions.caching import session_materialize

    base_members = session_materialize(
        _kmeans_assign(vectors.filter(~is_batch), cent).select(
            F.col("vec_id").alias("neighbor_id"), "cell_id"
        ),
        sf_dir,
        "ivf_append_base_members",
    )
    batch_members = _kmeans_assign(vectors.filter(is_batch), cent).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    members = base_members.unionByName(batch_members)
    return _ivf_search(spark, sf_dir, vectors, cent, members)


# Tombstone-delete split: vectors with vec_id ≡ IVF_DELETE_REM (mod
# IVF_DELETE_MOD) play the deleted set (~10% of the index) — disjoint
# from the append split's remainder so the two lifecycle entries stress
# different rows.
IVF_DELETE_MOD = 10
IVF_DELETE_REM = 3


def q_sim_ivf_delete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE DELETION from the standing IVF index — the third
    index-lifecycle operation after build (``sim_ivf_trained_topk``) and
    append (``sim_ivf_append_topk``): ~1/{IVF_DELETE_MOD} of the corpus
    is deleted and search must never surface a deleted vector.  Unlike
    ``sim_filtered_topk`` (a QUERY-TIME predicate over index metadata),
    deletion mutates the INDEX STATE: the tombstone set anti-joins the
    posting lists once, centroids stay fixed (the production recipe —
    deletes don't retrain; the quantizer drifts until the periodic
    rebuild), and every subsequent query pays zero filter cost.  The
    posting-list shrinkage (exactly |tombstones| rows) is pinned in
    tests, distinguishing this from a scan predicate.

    Scale shape: the anti-join is keyed on vec_id (tombstone side ∝
    delete batch, unhinted — AQE broadcasts real-world tombstone batches,
    falls back to shuffle when a bulk purge is corpus-sized); search cost
    is unchanged from the trained search (nprobe/K of the surviving
    corpus).  Oracle: the trained-IVF SQL with the tombstone predicate on
    the posting-list rows."""
    vectors, cent = _kmeans_trained(spark, sf_dir)
    members = _kmeans_assign(vectors, cent).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    tombstones = vectors.filter(
        F.col("vec_id") % IVF_DELETE_MOD == F.lit(IVF_DELETE_REM)
    ).select(F.col("vec_id").alias("neighbor_id"))
    live = members.join(tombstones, "neighbor_id", "left_anti")
    return _ivf_search(spark, sf_dir, vectors, cent, live)


# Rebuild-on-drift policy bar: retrain when the hottest posting list
# exceeds 2× the mean (max/mean in ppm).  The synthetic corpus's appends
# are distribution-uniform, so the trigger correctly stays FALSE at every
# SF (drifted imbalance reads 1.09–1.20×); that it FIRES when appended
# data genuinely drifts — a new cluster the base quantizer has no cell
# for — is pinned on a planted fixture in tests/test_similarity.py.
REBUILD_IMBALANCE_PPM = 2_000_000


def q_sim_ivf_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REBUILD-ON-DRIFT — the decision step that closes the IVF index
    lifecycle (train → search → append → delete → audit → REBUILD): audit
    the imbalance of the DRIFTED index (the ``sim_ivf_append_topk``
    standing index — quantizer trained on the base, late batch absorbed
    without retraining), fire the rebuild trigger when the hottest
    posting list exceeds the declared {REBUILD_IMBALANCE_PPM} ppm bar
    (max > 2× mean — the point where nprobe scans that hit the hot cell
    dominate query latency), and retrain on the CURRENT corpus, reporting
    both indexes' health and recall@k in one decision row.

    Trigger policy (declared): production gates the retrain on
    ``rebuild_triggered`` and re-audits after; this certification entry
    materializes both branches so the oracle can check the retrained
    index too.  A rebuild converges the index toward the data's inherent
    imbalance — it removes QUANTIZER drift (appended clusters the base
    centroids never saw get their own cells), not true data concentration.

    Recall accounting is exact integers (total exact-top-k hits across
    the query set, reusing ``_recall_vs_exact``); the imbalance ratio is
    integer division on non-negative operands.  Shape at 100 TB: both
    audits are K-row rollups off map-side-combined per-cell counts; the
    retrain is the ``sim_kmeans_train`` fixed-iteration pipeline (and is
    the expensive step — exactly why it hides behind the trigger); the
    recall reconciliation joins two |Q|·k-row sets.  Oracle: two unrolled
    k-means CTE chains (base-trained + full-corpus), imbalance rollups,
    and the brute-force recall reconciliation, composed in one statement.
    """
    from simple_query_engine_spark.functions.caching import session_materialize

    is_batch = F.col("vec_id") % IVF_BATCH_MOD == F.lit(IVF_BATCH_REM)
    vectors, dcent = _kmeans_trained(
        spark, sf_dir, base_filter=~is_batch, key_prefix="kmeans_app"
    )
    # Same keys as the append/trained entries: both standing indexes are
    # session-materialized scan leaves (r18), so the audit's four plan
    # branches stop re-embedding — and the JVM stops re-analyzing — two
    # corpus-wide assignment pipelines.
    drift_members = session_materialize(
        _kmeans_assign(vectors.filter(~is_batch), dcent).select(
            F.col("vec_id").alias("neighbor_id"), "cell_id"
        ),
        sf_dir,
        "ivf_append_base_members",
    ).unionByName(
        _kmeans_assign(vectors.filter(is_batch), dcent).select(
            F.col("vec_id").alias("neighbor_id"), "cell_id"
        )
    )
    rvec, rcent = _kmeans_trained(spark, sf_dir)
    reb_members = session_materialize(
        _kmeans_assign(rvec, rcent).select(
            F.col("vec_id").alias("neighbor_id"), "cell_id"
        ),
        sf_dir,
        "ivf_trained_members",
    )

    def _imbalance(members: DataFrame, col: str) -> DataFrame:
        sizes = members.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
        return sizes.agg(
            F.expr("max(n) * count(1) * 1000000 div sum(n)").alias(col)
        )

    # ONE brute-force exact page shared by both recall branches — the
    # single most expensive subplan in the entry; uncached, the crossJoin
    # composition below would execute it once per branch.
    exact = session_cache(
        q_sim_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id"),
        sf_dir,
        "rebuild_exact_topk",
    )

    def _hits(approx: DataFrame, hits_col: str, exact_col: str) -> DataFrame:
        return _recall_vs_exact(spark, sf_dir, approx, exact=exact).agg(
            F.sum("n_hits").alias(hits_col), F.sum("n_exact").alias(exact_col)
        )

    drift_bal = _imbalance(drift_members, "drifted_imbalance_ppm")
    reb_bal = _imbalance(reb_members, "rebuilt_imbalance_ppm")
    drift_rec = _hits(
        _ivf_search(spark, sf_dir, vectors, dcent, drift_members),
        "drifted_hits",
        "n_exact_total",
    )
    reb_rec = _hits(
        _ivf_search(spark, sf_dir, rvec, rcent, reb_members),
        "rebuilt_hits",
        "n_exact_rebuilt",
    )
    return (
        drift_bal.crossJoin(reb_bal)
        .crossJoin(drift_rec)
        .crossJoin(reb_rec)
        .select(
            "drifted_imbalance_ppm",
            (F.col("drifted_imbalance_ppm") > REBUILD_IMBALANCE_PPM).alias(
                "rebuild_triggered"
            ),
            "rebuilt_imbalance_ppm",
            "n_exact_total",
            "drifted_hits",
            "rebuilt_hits",
            (F.col("rebuilt_hits") - F.col("drifted_hits")).alias(
                "recall_delta_hits"
            ),
        )
    )


def _imbalance_oracle_sql(base_where: str = "", batch_where: str = "") -> str:
    """Single-row imbalance-ppm rollup over the (optionally drifted)
    k-means posting lists — the ``sim_centroid_balance`` core, minus the
    report columns, parameterized like ``_ivf_trained_oracle_sql``."""
    parts, _final_cent, members = _kmeans_oracle_parts(
        base_where=base_where, batch_where=batch_where
    )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        sizes AS (
            SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM {members} GROUP BY cell_id
        )
        SELECT (CAST(MAX(n) AS BIGINT) * CAST(COUNT(*) AS BIGINT) * 1000000)
                   // CAST(SUM(n) AS BIGINT) AS imbalance_ppm
        FROM sizes"""
    )


def _ivf_rebuild_oracle_sql() -> str:
    """Decision-row twin: drifted/rebuilt imbalance rollups + the two
    recall reconciliations against the brute-force exact top-k."""
    hits = (
        "SELECT CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)"
        " AS BIGINT) AS hits, CAST(COUNT(*) AS BIGINT) AS n_exact"
        " FROM exact e LEFT JOIN {idx} a"
        " ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id"
    )
    drift_where = dict(
        base_where=f"vec_id % {IVF_BATCH_MOD} <> {IVF_BATCH_REM}",
        batch_where=f"vec_id % {IVF_BATCH_MOD} = {IVF_BATCH_REM}",
    )
    return f"""
        WITH exact AS ({_BRUTE_TOPK_SQL}),
        drift_idx AS ({_ivf_trained_oracle_sql(**drift_where)}),
        reb_idx AS ({_ivf_trained_oracle_sql()}),
        drift_bal AS ({_imbalance_oracle_sql(**drift_where)}),
        reb_bal AS ({_imbalance_oracle_sql()}),
        dr AS ({hits.format(idx="drift_idx")}),
        rr AS ({hits.format(idx="reb_idx")})
        SELECT db.imbalance_ppm AS drifted_imbalance_ppm,
               db.imbalance_ppm > {REBUILD_IMBALANCE_PPM} AS rebuild_triggered,
               rb.imbalance_ppm AS rebuilt_imbalance_ppm,
               dr.n_exact AS n_exact_total,
               dr.hits AS drifted_hits,
               rr.hits AS rebuilt_hits,
               rr.hits - dr.hits AS recall_delta_hits
        FROM drift_bal db, reb_bal rb, dr, rr
    """


# kNN-graph degree: every vector keeps its KNN_GRAPH_K best neighbors
# from the cells it probes (the trained-IVF candidate restriction).
KNN_GRAPH_K = 5

# The K ∝ √N quantizer dial (VERDICT r14 item 2).  At fixed K the
# all-queries kNN candidate volume is (nprobe/K)·N² — quadratic, measured
# 125× wall at 8× corpus growth (SCALING.md).  Sizing cells at K =
# max(floor, ⌊√N⌋) bounds it at ~nprobe·N^{3/2}: the standard IVF cell
# sizing.  Exactness across engines: ⌊sqrt(double(N))⌋ — IEEE-754 sqrt is
# CORRECTLY ROUNDED, so CPython's libm and DuckDB's sqrt return the same
# double for the same integer input and the floors agree bit-for-bit
# (pinned over 1..10⁶ incl. perfect squares in tests/test_similarity.py).
KNN_K_FLOOR = KMEANS_K  # never fewer cells than the fixed-K IVF family


def _adaptive_k(n: int, floor_k: int) -> int:
    """max(floor_k, ⌊√n⌋) — the Python twin of :func:`_adaptive_k_sql`."""
    return max(floor_k, int(math.floor(math.sqrt(float(n)))))


def _adaptive_k_sql(floor_k: int, src: str = "v") -> str:
    """The DuckDB twin of :func:`_adaptive_k` as a scalar-subquery LIMIT
    operand over the training CTE ``src`` (the shifted-vector CTE of
    ``_kmeans_oracle_parts``, row count = corpus size)."""
    return (
        f"(SELECT GREATEST({floor_k}, "
        f"CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) FROM {src})"
    )


def _knn_quantizer(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The kNN family's OWN trained quantizer: K = max({KNN_K_FLOOR}, ⌊√N⌋)
    cells (N from a metadata-cheap corpus count — one driver-side scalar,
    never rows), cached under its own ``knn`` session key so the fixed-K
    IVF entries keep their certified quantizer untouched."""
    n = table(spark, sf_dir, "embeddings").count()
    return _kmeans_trained(
        spark, sf_dir, key_prefix="knn", k=_adaptive_k(n, KNN_K_FLOOR)
    )


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-cached corpus kNN edge list (every vector's top
    {KNN_GRAPH_K} neighbors through the trained IVF probes) — shared by
    ``sim_knn_graph`` (mutual-flag symmetrization) and
    ``sim_knn_density`` (outlier scoring).  The quantizer is the
    K ∝ √N adaptive one: candidate volume ~nprobe·N^{3/2}, not N²."""
    vectors, cent = _knn_quantizer(spark, sf_dir)
    members = _kmeans_assign(vectors, cent).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    probe_scored = vectors.crossJoin(F.broadcast(cent)).select(
        F.col("vec_id").alias("query_id"),
        "cell_id",
        _kmeans_sqdist(F.col("sv"), F.col("cv")).alias("d"),
    )
    probes = (
        probe_scored.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("d", "cell_id"))),
                1,
                KMEANS_NPROBE,
            ).alias("cells")
        )
        .select("query_id", F.explode(F.col("cells.cell_id")).alias("cell_id"))
    )
    embeddings = table(spark, sf_dir, "embeddings")
    ranked = _rank_exact(
        probes.join(members, "cell_id")
        .join(_with_norm(embeddings, "query_id", "q"), "query_id")
        .join(_with_norm(embeddings, "neighbor_id", "c"), "neighbor_id"),
        k=KNN_GRAPH_K,
    )
    return session_cache(
        ranked.select(
            F.col("query_id").alias("vec_id"),
            "neighbor_id",
            F.col("sim_rank").alias("knn_rank"),
            "similarity",
        ),
        sf_dir,
        "knn_graph_edges",
    )


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-GRAPH construction over the WHOLE corpus through the trained
    IVF index — every vector is a query: probe the {KMEANS_NPROBE}
    nearest trained cells, rank exact cosine over the probed posting
    lists, keep each vector's top {KNN_GRAPH_K} neighbors, and flag
    MUTUAL edges (both endpoints keep each other).  The kNN graph is the
    backbone structure of graph-based corpus analysis — agglomerative /
    HDBSCAN-style clustering, graph ANN seeding, kNN-density outlier
    scoring all start from exactly this edge list; the mutual flag is the
    symmetrization those consumers apply first.

    Scale shape: this is the all-queries generalization of
    ``sim_ivf_trained_topk`` — candidate volume is Σ_cells |postings| ×
    |probes into the cell| ≈ (nprobe/K)·N per vector, the same corpus
    fraction as single-query IVF search and a K/nprobe-fold reduction
    over the N² brute-force graph; the quantizer uses the K ∝ √N cell
    sizing (``_knn_quantizer``, K = max({KNN_K_FLOOR}, ⌊√N⌋)), so the
    total candidate volume is ~nprobe·N^{3/2} — the fixed-K O(N²/K)
    growth measured at 8× in SCALING.md is retired.  Probes collapse
    map-side via the sorted-slice aggregate (never a corpus-wide
    window — partitioned by vec_id); the probe⋈posting join is keyed on
    cell_id and stays UNHINTED (both sides are corpus-sized — a
    broadcast here would ship the whole posting table); the edge list is
    session-cached once and the mutual flag is a self-equi-join on the
    (vec, neighbor) key of that N·k-row table, never of the corpus.
    Oracle: k-means CTEs + unrestricted probe ranking + the same
    left-join mutual marker."""
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.lit(1).alias("is_mutual"),
    ).distinct()
    return edges.join(rev, ["vec_id", "neighbor_id"], "left").select(
        "vec_id",
        "neighbor_id",
        "knn_rank",
        "similarity",
        F.coalesce("is_mutual", F.lit(0)).cast("long").alias("mutual"),
    )


SIM_OUTLIER_TOPN = 50


def q_sim_knn_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-DENSITY outlier scoring over the corpus kNN graph: each
    vector's density is the mean cosine to its {KNN_GRAPH_K} nearest
    neighbors (through the trained IVF probes), and the
    {SIM_OUTLIER_TOPN} LOWEST-density vectors are returned as the
    outlier page — the embedding-space analogue of the quality prune:
    low kNN density marks off-distribution samples (mislabeled, garbled,
    or adversarial documents) that curation pipelines drop or route to
    review (the SSL-prototypes/outlier-removal step of the DataComp-
    style recipe).

    Exactness: similarities enter as round(cos, 4) basis points; the
    mean is ``(sum_bp + 10000·n)·1000 div n − 10^7`` — the +10000/vector
    offset keeps the div operand non-negative (belt-and-braces: the
    r11-verified engine fact is that Spark ``div`` and DuckDB ``//``
    BOTH truncate toward zero — see ``q_sim_power_iteration`` — so the
    offset is a convention, not a correctness requirement) and
    floor((a + c·n)/n) = floor(a/n) + c makes the shift exact.  Vectors
    whose probed cells contain no other vector have no neighbors:
    density −1, ranked first (the extreme outliers).

    Scale shape: the edge list is the session-cached kNN graph (shared
    with ``sim_knn_graph`` — built once per session); density is one
    partial-agg shuffle over N·k edge rows; the outlier page is
    orderBy+limit → TakeOrderedAndProject (per-task heaps, driver merges
    |tasks|·{SIM_OUTLIER_TOPN} rows — never a global sort), and the
    final rank window orders {SIM_OUTLIER_TOPN} rows, a bounded
    single-partition window by construction."""
    edges = _knn_edges(spark, sf_dir)
    bp = F.round(F.col("similarity") * 10000, 0).cast("long")
    dens = edges.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"), F.sum(bp).alias("sum_bp")
    )
    allv = table(spark, sf_dir, "embeddings").select("vec_id")
    scored = (
        allv.join(dens, "vec_id", "left")
        .withColumn("n_neighbors", F.coalesce("n_neighbors", F.lit(0)).cast("long"))
        .withColumn(
            "density_mbp",
            F.coalesce(
                F.expr(
                    "(sum_bp + 10000 * n_neighbors) * 1000 div n_neighbors"
                    " - 10000000"
                ),
                F.lit(-1),
            ).cast("long"),
        )
        .select("vec_id", "n_neighbors", "density_mbp")
    )
    page = scored.orderBy("density_mbp", "vec_id").limit(SIM_OUTLIER_TOPN)
    w = Window.orderBy("density_mbp", "vec_id")
    return page.select(
        "vec_id",
        "n_neighbors",
        "density_mbp",
        F.row_number().over(w).cast("int").alias("outlier_rank"),
    )


def _knn_edge_oracle_ctes() -> str:
    """The shared WITH-prefix of the kNN-graph oracles: k-means training
    CTEs + all-vectors probe ranking + top-k cosine per vector, ending at
    the materialized ``ranked`` edge CTE.  K is the adaptive
    max({KNN_K_FLOOR}, ⌊√N⌋) dial — the scalar-subquery LIMIT twin of
    :func:`_knn_quantizer`."""
    parts, final_cent, members = _kmeans_oracle_parts(
        k=_adaptive_k_sql(KNN_K_FLOOR)
    )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        {_probes_oracle_cte(final_cent, all_vectors=True)},
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS ev,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        searched AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROUND(list_dot_product(qe.ev, ce.ev)
                         / (qe.nrm * ce.nrm), 4) AS similarity
            FROM probes p
            JOIN {members} a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
            JOIN e qe ON qe.vec_id = p.query_id
            JOIN e ce ON ce.vec_id = a.vec_id
        ),
        ranked AS MATERIALIZED (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY similarity DESC,
                                                      neighbor_id) AS knn_rank
                FROM searched
            ) WHERE knn_rank <= {KNN_GRAPH_K}
        )"""
    )


def _knn_graph_oracle_sql() -> str:
    """Shared kNN-edge CTEs + the reverse-edge mutual marker."""
    return (
        _knn_edge_oracle_ctes()
        + """
        SELECT r.query_id AS vec_id, r.neighbor_id, r.knn_rank, r.similarity,
               CAST(CASE WHEN m.query_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS mutual
        FROM ranked r LEFT JOIN ranked m
             ON m.query_id = r.neighbor_id AND m.neighbor_id = r.query_id"""
    )


def _knn_density_oracle_sql() -> str:
    """Shared kNN-edge CTEs + basis-point density mean (offset-shifted
    non-negative integer division — see q_sim_knn_density) + the
    lowest-density outlier page."""
    return (
        _knn_edge_oracle_ctes()
        + f""",
        dens AS (
            SELECT query_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
                   CAST(SUM(CAST(round(similarity * 10000) AS BIGINT))
                        AS BIGINT) AS sum_bp
            FROM ranked GROUP BY query_id
        ),
        scored AS (
            SELECT emb.vec_id,
                   coalesce(d.n_neighbors, 0) AS n_neighbors,
                   coalesce((d.sum_bp + 10000 * d.n_neighbors) * 1000
                            // d.n_neighbors - 10000000, -1) AS density_mbp
            FROM embeddings emb LEFT JOIN dens d ON d.vec_id = emb.vec_id
        )
        SELECT vec_id, n_neighbors, density_mbp,
               CAST(rn AS INT) AS outlier_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY density_mbp, vec_id) AS rn
            FROM scored
        ) WHERE rn <= {SIM_OUTLIER_TOPN}"""
    )


def _recall_floor_planted_oracle_sql() -> str:
    """Planted-corpus CTEs (adaptive-C centers + BETA-mixed members) +
    unrolled adaptive-K k-means over the planted corpus + nprobe search
    for the |Q| queries + brute-force exact top-k + the recall rollup of
    the two audit oracles."""
    md5_expr = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)", IVF_HASH_WIDTH)
    planted_ctes = [
        "emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)",
        f"""kc AS (
            SELECT GREATEST({KNN_K_FLOOR}, CAST(floor(sqrt(CAST(COUNT(*)
                   AS DOUBLE))) AS BIGINT)) AS c
            FROM emb0
        )""",
        f"""centers AS (
            SELECT ROW_NUMBER() OVER (ORDER BY {md5_expr}, vec_id) - 1 AS cidx,
                   ev AS cv
            FROM emb0
            ORDER BY {md5_expr}, vec_id
            LIMIT (SELECT c FROM kc)
        )""",
        f"""planted AS (
            SELECT e.vec_id,
                   list_transform(range(1, {EMB_DIM + 1}),
                       j -> c.cv[j] + {PLANTED_CLUSTER_BETA} * e.ev[j])
                       AS embedding
            FROM emb0 e CROSS JOIN kc
            JOIN centers c ON (e.vec_id % kc.c) = c.cidx
        )""",
    ]
    parts, final_cent, members = _kmeans_oracle_parts(
        k=_adaptive_k_sql(KNN_K_FLOOR), source="planted"
    )
    return (
        "WITH "
        + ",\n        ".join(planted_ctes + parts)
        + f""",
        {_probes_oracle_cte(final_cent)},
        pe AS (
            SELECT vec_id, embedding AS ev,
                   sqrt(list_dot_product(embedding, embedding)) AS nrm
            FROM planted
        ),
        searched AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROUND(list_dot_product(qe.ev, ce.ev)
                         / (qe.nrm * ce.nrm), 4) AS similarity
            FROM probes p
            JOIN {members} a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
            JOIN pe qe ON qe.vec_id = p.query_id
            JOIN pe ce ON ce.vec_id = a.vec_id
        ),
        approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY similarity DESC,
                                                      neighbor_id) AS rn
                FROM searched
            ) WHERE rn <= {TOP_K}
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ROUND(list_dot_product(q.ev, c.ev)
                                          / (q.nrm * c.nrm), 4) DESC,
                                    c.vec_id) AS rn
                FROM pe q JOIN pe c
                  ON q.vec_id < {NUM_QUERY_VECTORS} AND q.vec_id <> c.vec_id
            ) WHERE rn <= {TOP_K}
        )
        {_RECALL_ROLLUP_SQL}"""
    )


def _ivfadc_oracle_sql() -> str:
    """K-means training CTEs + probe ranking + the algebraically-collapsed
    ADC coarse score (Σ_d sgn(c_d)·⌊q_d·SQ_SCALE⌋ — see the
    ``sim_pq_rerank`` derivation) restricted to probed posting lists +
    exact-cosine rerank."""
    parts, final_cent, members = _kmeans_oracle_parts()
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        {_probes_oracle_cte(final_cent)},
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS ev,
                   list_transform(embedding::DOUBLE[],
                                  x -> CAST(floor(x * {SQ_SCALE}) AS BIGINT)) AS qi,
                   list_transform(embedding::DOUBLE[],
                                  x -> CASE WHEN x >= 0 THEN CAST(1 AS BIGINT)
                                            ELSE CAST(-1 AS BIGINT) END) AS sgn,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        coarse AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_dot_product(q.qi, c.sgn) AS iscore
            FROM probes p
            JOIN {members} a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
            JOIN e q ON q.vec_id = p.query_id
            JOIN e c ON c.vec_id = a.vec_id
        ),
        shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY iscore DESC, neighbor_id)
                       AS cand_rank
                FROM coarse
            ) WHERE cand_rank <= {SQ_CAND}
        ),
        scored AS (
            SELECT s.query_id, s.neighbor_id,
                   ROUND(list_dot_product(q.ev, c.ev) / (q.nrm * c.nrm), 4)
                       AS similarity
            FROM shortlist s
            JOIN e q ON q.vec_id = s.query_id
            JOIN e c ON c.vec_id = s.neighbor_id
        )
        {_page_sql("scored")}"""
    )


# Reciprocal-rank-fusion constant (the standard k=60 of the public RRF
# recipe) and the hybrid query set: lexical side = BM25_QUERIES[qid],
# dense side = query vector vec_id = qid.  The synthetic corpus aligns
# doc_id ↔ vec_id by construction; a production deployment carries an
# explicit document↔vector mapping table and joins through it — declared.
RRF_K = 60
HYBRID_TOP_K = 10


def q_sim_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion of the BM25 lexical
    ranking (``text_bm25_search``) with the dense cosine ranking, the
    fusion every production RAG/search stack runs (lexical catches exact
    keywords, dense catches paraphrase; RRF needs no score calibration
    between the two systems).  rrf = Σ_sides 1/(k + rank) with k =
    {RRF_K}, in exact integer micro-units (1e6 div (k + rank)) so fusion
    order is engine-identical; a doc absent from one side contributes
    nothing from that side (rank reported as 0).

    Scale shape: each side is its own already-audited plan (the postings
    join; the broadcast-query brute-force scan — swap in the trained-IVF
    search past memory scale); fusion touches only 2·|Q|·k rank rows —
    broadcast-sized forever — in one full-outer join + per-query top-k
    window.
    """
    from simple_query_engine_spark.operators.text import (
        BM25_QUERIES,
        q_text_bm25_search,
    )

    lex = q_text_bm25_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    embeddings = table(spark, sf_dir, "embeddings")
    queries = _with_norm(
        embeddings.filter(F.col("vec_id").isin(sorted(BM25_QUERIES))), "query_id", "q"
    )
    dense = _rank_exact(
        F.broadcast(queries).crossJoin(_with_norm(embeddings, "neighbor_id", "c")),
        k=HYBRID_TOP_K,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("sim_rank").alias("dense_rank"),
    )
    fused = (
        lex.join(dense, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce("dense_rank", F.lit(0)).cast("int").alias("dense_rank"),
        )
        .withColumn(
            "rrf_micro",
            (
                F.when(
                    F.col("lex_rank") > 0,
                    F.expr(f"1000000 div ({RRF_K} + lex_rank)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("dense_rank") > 0,
                    F.expr(f"1000000 div ({RRF_K} + dense_rank)"),
                ).otherwise(F.lit(0))
            ).cast("long"),
        )
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_fused))
        .filter(F.col("fused_rank") <= HYBRID_TOP_K)
    )


def _hybrid_oracle_sql() -> str:
    from simple_query_engine_spark.operators.text import (
        BM25_QUERIES,
        ORACLES as TEXT_ORACLES,
    )

    qids = ", ".join(str(q) for q in sorted(BM25_QUERIES))
    return f"""
        WITH lex AS ({TEXT_ORACLES["text_bm25_search"]}),
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ), dense AS (
            SELECT query_id, doc_id, rank AS dense_rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ROUND(list_dot_product(q.v, c.v)
                                          / (q.nrm * c.nrm), 4) DESC,
                                    c.vec_id) AS rank
                FROM e q JOIN e c
                  ON q.vec_id IN ({qids}) AND q.vec_id <> c.vec_id
            ) WHERE rank <= {HYBRID_TOP_K}
        ), fused AS (
            SELECT COALESCE(l.query_id, d.query_id) AS query_id,
                   COALESCE(l.doc_id, d.doc_id) AS doc_id,
                   CAST(COALESCE(l.rank, 0) AS INT) AS lex_rank,
                   CAST(COALESCE(d.dense_rank, 0) AS INT) AS dense_rank,
                   CAST(COALESCE(1000000 // ({RRF_K} + l.rank), 0)
                        + COALESCE(1000000 // ({RRF_K} + d.dense_rank), 0)
                        AS BIGINT) AS rrf_micro
            FROM lex l FULL OUTER JOIN dense d
              ON l.query_id = d.query_id AND l.doc_id = d.doc_id
        )
        SELECT query_id, doc_id, lex_rank, dense_rank, rrf_micro, fused_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rrf_micro DESC,
                                                  doc_id) AS fused_rank
            FROM fused
        ) WHERE fused_rank <= {HYBRID_TOP_K}
    """


# SemDeDup quantizer: its OWN k/iters, decoupled from the IVF family's —
# semantic dedup wants many small cells (bounded within-cell pair count),
# search wants few big posting lists (nprobe/K scan fraction).  Since r15
# the cell count is ADAPTIVE: K = max({SEMDEDUP_K}, ⌊√N⌋) (the
# ``_adaptive_k`` dial, VERDICT r14 item 2), so the within-cell pair
# budget Σ cᵢ² ≈ N·(N/K) is bounded at ~N^{3/2} instead of growing
# quadratically past the point where the fixed floor saturates; at the
# local SFs (N ≤ 2000) the floor binds and K stays 64 (~8-31 members per
# cell), preserving the certified results.  2 Lloyd iterations keep the
# unrolled oracle CTE chain short (CTE count scales with iters, not K).
SEMDEDUP_K = 64
SEMDEDUP_ITERS = 2


def q_sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup (the public SemDeDup recipe): cluster the corpus
    with the integer-exact k-means quantizer, then compare pairs ONLY
    within each cluster — near-duplicate *meaning* (paraphrases,
    templated rewrites) that no lexical dedup (exact / MinHash / SimHash
    — all surface-form) can see.  A vector is dropped iff a LOWER-id
    member of its cell is within cosine ≥ {NEARDUP_COSINE}; output is one
    row per dropped vector with its cell, its keeper (``dup_of``, the
    lowest-id such partner — the published recipe keeps the member
    farthest from the centroid; lowest-id is the engine-exact
    deterministic substitute, declared here), and the max in-cell
    similarity that condemned it.

    The reference engine has no vector operators (SURVEY §2.2); this is
    the extension surface the brief requires.

    Scale shape: clustering bounds the pair space — the all-pairs
    O(N²) of ``sim_neardup_pairs_baseline`` becomes Σ cᵢ² ≈ N·(N/K),
    tuned by K (production: K ∝ N ⇒ constant cell width).  The pair
    join is an equi-join on cell_id (skew bounded by the largest cell);
    per-pair work is one JVM-side 64-dim dot product; the drop rule is a
    map-side-combinable groupBy on the higher id.  Nothing touches the
    driver and no row is ever compared across cells.  Threshold honesty:
    as with ``NEARDUP_COSINE`` (see its comment), the synthetic corpus
    is near-orthogonal, so the production ≥0.9 bar would match nothing;
    the shipped bar sits at the top of the corpus's in-cell cosine
    distribution (78 pairs at sf0.001), and the planted-pair tests pin
    detection at ≥0.8 regardless.
    """
    n = table(spark, sf_dir, "embeddings").count()
    vectors, cent = _kmeans_trained(
        spark,
        sf_dir,
        key_prefix="semdedup",
        k=_adaptive_k(n, SEMDEDUP_K),
        iters=SEMDEDUP_ITERS,
    )
    mem = _kmeans_assign(vectors, cent).select("vec_id", "cell_id")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    m = mem.join(emb, "vec_id")
    pairs = (
        _normed_side(m, "vec_id_a", "q", "cell_id")
        .join(_normed_side(m, "vec_id_b", "c", "cell_id"), "cell_id")
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "cell_id",
            "vec_id_a",
            "vec_id_b",
            F.round(_cosine(), 4).alias("similarity"),
        )
        .filter(F.col("similarity") >= NEARDUP_COSINE)
    )
    return pairs.groupBy(
        F.col("vec_id_b").alias("vec_id"), F.col("cell_id")
    ).agg(
        F.min("vec_id_a").alias("dup_of"),
        F.max("similarity").alias("max_sim"),
    )


def _semdedup_oracle_sql() -> str:
    """Parametrized k-means CTEs (K = max({SEMDEDUP_K}, ⌊√N⌋),
    {SEMDEDUP_ITERS} iters) + within-cell pairwise cosine + the lowest-id
    drop rule."""
    parts, _, members = _kmeans_oracle_parts(
        k=_adaptive_k_sql(SEMDEDUP_K), iters=SEMDEDUP_ITERS
    )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS ev,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        p AS (
            SELECT a.cell_id, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                   ROUND(list_dot_product(ea.ev, eb.ev)
                         / (ea.nrm * eb.nrm), 4) AS similarity
            FROM {members} a
            JOIN {members} b
              ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e eb ON eb.vec_id = b.vec_id
        )
        SELECT vec_id_b AS vec_id, cell_id,
               MIN(vec_id_a) AS dup_of, MAX(similarity) AS max_sim
        FROM p WHERE similarity >= {NEARDUP_COSINE}
        GROUP BY vec_id_b, cell_id"""
    )


def _ivf_trained_oracle_sql(
    cand_where: str = "",
    base_where: str = "",
    batch_where: str = "",
    pair_where: str = "",
    member_and: str = "",
    range_threshold: float | None = None,
) -> str:
    """Kmeans training CTEs + probe ranking + exact-cosine cell search —
    the DuckDB twin of :func:`q_sim_ivf_trained_topk`; ``cand_where``
    (a ``WHERE m.<pred>`` clause on the metadata row) yields the
    :func:`q_sim_filtered_topk` twin; ``base_where``/``batch_where``
    (train-set / held-out-batch predicates) yield the
    :func:`q_sim_ivf_append_topk` twin; ``pair_where`` (a ``WHERE`` over
    ``qe``/``ce`` labels) yields the :func:`q_sim_hard_negatives` twin;
    ``member_and`` (an ``AND a.<pred>`` on the posting-list rows) yields
    the :func:`q_sim_ivf_delete_topk` tombstone twin; ``range_threshold``
    swaps the top-k page for the radius predicate — the
    :func:`q_sim_range_search` twin."""
    parts, final_cent, members = _kmeans_oracle_parts(
        base_where=base_where, batch_where=batch_where
    )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + f""",
        {_probes_oracle_cte(final_cent)},
        e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS ev,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        ec AS (
            SELECT e.vec_id, e.label, e.ev, e.nrm
            FROM e JOIN embeddings m ON m.vec_id = e.vec_id
            {cand_where}
        ),
        searched AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROUND(list_dot_product(qe.ev, ce.ev)
                         / (qe.nrm * ce.nrm), 4) AS similarity
            FROM probes p
            JOIN {members} a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
                 {member_and}
            JOIN e qe ON qe.vec_id = p.query_id
            JOIN ec ce ON ce.vec_id = a.vec_id
            {pair_where}
        )
        {_page_sql("searched", range_threshold)}"""
    )


QUERIES = {
    "sim_topk_bruteforce": q_sim_topk_bruteforce,
    "sim_kmeans_train": q_sim_kmeans_train,
    "sim_centroid_balance": q_sim_centroid_balance,
    "sim_power_iteration": q_sim_power_iteration,
    "sim_ivf_trained_topk": q_sim_ivf_trained_topk,
    "sim_range_search": q_sim_range_search,
    "sim_diverse_topk": q_sim_diverse_topk,
    "sim_filtered_topk": q_sim_filtered_topk,
    "sim_hard_negatives": q_sim_hard_negatives,
    "sim_ivf_append_topk": q_sim_ivf_append_topk,
    "sim_ivf_rebuild": q_sim_ivf_rebuild,
    "sim_knn_graph": q_sim_knn_graph,
    "sim_knn_density": q_sim_knn_density,
    "sim_ivf_delete_topk": q_sim_ivf_delete_topk,
    "sim_ivfadc_topk": q_sim_ivfadc_topk,
    "sim_semdedup": q_sim_semdedup,
    "sim_hybrid_retrieval": q_sim_hybrid_retrieval,
    "sim_recall_audit": q_sim_recall_audit,
    "sim_recall_audit_trained": q_sim_recall_audit_trained,
    "sim_recall_floor_planted": q_sim_recall_floor_planted,
    "sim_neardup_pairs_baseline": q_sim_neardup_pairs_baseline,
    "sim_neardup_lsh": q_sim_neardup_lsh,
    "sim_neardup_planted": q_sim_neardup_planted,
    "sim_ann_lsh": q_sim_ann_lsh,
    "sim_multiprobe_lsh": q_sim_multiprobe_lsh,
    "sim_ivf_topk": q_sim_ivf_topk,
    "sim_label_centroids": q_sim_label_centroids,
    "sim_semantic_clusters": q_sim_semantic_clusters,
    "sim_sq_rerank": q_sim_sq_rerank,
    "sim_pq_rerank": q_sim_pq_rerank,
}

# Full brute-force top-k SQL — the sim_topk_bruteforce oracle, also the
# exact side of sim_recall_audit.
_BRUTE_TOPK_SQL = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS similarity
            FROM e q JOIN e c ON q.vec_id < {NUM_QUERY_VECTORS} AND q.vec_id <> c.vec_id
        )
        {_page_sql("scored")}
"""

ORACLES = {
    "sim_topk_bruteforce": _BRUTE_TOPK_SQL,
    "sim_kmeans_train": _kmeans_oracle_sql(),
    "sim_ivf_trained_topk": _ivf_trained_oracle_sql(),
    "sim_centroid_balance": _centroid_balance_oracle_sql(),
    "sim_power_iteration": _power_iteration_oracle_sql(),
    "sim_range_search": _ivf_trained_oracle_sql(range_threshold=SIM_RANGE_THRESHOLD),
    "sim_diverse_topk": _diverse_topk_oracle_sql(),
    "sim_filtered_topk": _ivf_trained_oracle_sql(
        cand_where=f"WHERE m.label IN {FILTER_LABELS}"
    ),
    "sim_ivf_append_topk": _ivf_trained_oracle_sql(
        base_where=f"vec_id % {IVF_BATCH_MOD} <> {IVF_BATCH_REM}",
        batch_where=f"vec_id % {IVF_BATCH_MOD} = {IVF_BATCH_REM}",
    ),
    "sim_ivf_rebuild": _ivf_rebuild_oracle_sql(),
    "sim_hard_negatives": _ivf_trained_oracle_sql(
        pair_where="WHERE qe.label <> ce.label"
    ),
    "sim_knn_graph": _knn_graph_oracle_sql(),
    "sim_knn_density": _knn_density_oracle_sql(),
    "sim_recall_floor_planted": _recall_floor_planted_oracle_sql(),
    "sim_ivf_delete_topk": _ivf_trained_oracle_sql(
        member_and=f"AND a.vec_id % {IVF_DELETE_MOD} <> {IVF_DELETE_REM}"
    ),
    "sim_ivfadc_topk": _ivfadc_oracle_sql(),
    "sim_semdedup": _semdedup_oracle_sql(),
    "sim_hybrid_retrieval": _hybrid_oracle_sql(),
    "sim_neardup_pairs_baseline": f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS similarity
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= {NEARDUP_COSINE}
    """,
    "sim_label_centroids": f"""
        WITH per_elem AS (
            SELECT label,
                   CAST(floor(unnest(embedding::DOUBLE[]) * {EMB_SCALE}) AS BIGINT) AS ival,
                   generate_subscripts(embedding, 1) - 1 AS dim
            FROM embeddings
        ), per_dim AS (
            SELECT label, dim,
                   CAST(SUM(ival) AS BIGINT) AS s_d,
                   CAST(COUNT(*) AS BIGINT) AS n_vec
            FROM per_elem GROUP BY label, dim
        )
        SELECT label,
               ROUND(sqrt(CAST(SUM(s_d * s_d) AS BIGINT)::DOUBLE)
                     / (MAX(n_vec) * {EMB_SCALE}.0), 4) AS centroid_norm,
               COUNT(*) AS n_dims
        FROM per_dim GROUP BY label
    """,
    # LSH entries fully oracle-checked — integer-grid planes over the
    # floor-scaled embedding make bucket sign bits exact in both engines
    # (see _int_hyperplanes); no float-ulp bucket flips possible.
    "sim_sq_rerank": _SQ_RERANK_SQL,
    "sim_pq_rerank": _PQ_RERANK_SQL,
    "sim_ann_lsh": _ann_lsh_oracle_sql(),
    "sim_multiprobe_lsh": _multiprobe_lsh_oracle_sql(),
    "sim_neardup_lsh": _neardup_lsh_oracle_sql(),
    "sim_neardup_planted": _neardup_lsh_oracle_sql(
        source=_PLANTED_EMB_SQL, threshold=PLANTED_COSINE
    ),
}


def _semantic_clusters_oracle_sql() -> str:
    # NOTE: this runs at module import time (the ORACLES assignment below
    # calls it), so the function-local import does NOT defer anything —
    # it is safe only because dedup.py never imports similarity.  If dedup
    # ever needs something from this module, move the shared closure SQL
    # into a third module both can import.
    from simple_query_engine_spark.operators.dedup import _closure_sql

    planted_pairs = _neardup_lsh_oracle_sql(
        source=_PLANTED_EMB_SQL, threshold=PLANTED_COSINE
    )
    return _closure_sql(
        f"SELECT vec_id_a AS ida, vec_id_b AS idb FROM ({planted_pairs})",
        keep_col="keep_vec_id",
    )


ORACLES["sim_semantic_clusters"] = _semantic_clusters_oracle_sql()

# sim_ivf_topk is approximate vs brute force but fully DETERMINISTIC
# arithmetic (hash-sampled centroids, exact cosine, fixed nprobe) — so the
# whole IVF pipeline is SQL-expressible and oracle-checked; the same SQL is
# the approximate side of sim_recall_audit.
_IVF_TOPK_SQL = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ), cents AS (
            SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e
            ORDER BY {md5_prefix_long_sql("CAST(vec_id AS VARCHAR)", 15)}, vec_id
            LIMIT {NUM_IVF_CELLS}
        ), ranked AS (
            SELECT e.vec_id, e.v, e.nrm, c.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC,
                                c.cell_id) AS cell_rank
            FROM e CROSS JOIN cents c
        ), assign AS (
            SELECT vec_id AS neighbor_id, v AS nv, nrm AS nn, cell_id
            FROM ranked WHERE cell_rank = 1
        ), probes AS (
            SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell_id
            FROM ranked WHERE vec_id < {NUM_QUERY_VECTORS} AND cell_rank <= {IVF_NPROBE}
        ), scored AS (
            SELECT p.query_id, a.neighbor_id,
                   ROUND(list_dot_product(p.qv, a.nv) / (p.qn * a.nn), 4) AS similarity
            FROM probes p JOIN assign a USING (cell_id)
            WHERE p.query_id <> a.neighbor_id
        )
        {_page_sql("scored")}
"""
ORACLES["sim_ivf_topk"] = _IVF_TOPK_SQL

ORACLES["sim_recall_audit"] = f"""
        WITH exact AS ({_BRUTE_TOPK_SQL}),
        approx AS ({_IVF_TOPK_SQL})
        {_RECALL_ROLLUP_SQL}
"""

ORACLES["sim_recall_audit_trained"] = f"""
        WITH exact AS ({_BRUTE_TOPK_SQL}),
        approx AS ({_ivf_trained_oracle_sql()})
        {_RECALL_ROLLUP_SQL}
"""
