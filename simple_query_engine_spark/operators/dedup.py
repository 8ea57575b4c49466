"""Deduplication operators for the training-data pipeline.

Four tiers, from exact to fuzzy, all shuffle-shaped (never all-pairs):

- **exact**: hash-groupBy on a content digest — shuffles 16-byte digests.
- **n-gram Jaccard**: shingle → explode → self-equi-join on shingle →
  per-pair overlap counts.  This is the *exact* near-dup baseline; its join
  fans out on frequent shingles, so shingles appearing in more than
  ``MAX_SHINGLE_DF`` documents are dropped before the join (bounding any
  one join key's fan-out to ≤ K²/2 candidate rows).  High-DF shingles are
  boilerplate with no discriminative power; a pair is only missed if it
  depends on shingles hotter than the cap (none exist at the test scales —
  observed max DF is 25 at sf0.1 — so the cap is a pure scale guard here).
  For true scale the production path is…
- **MinHash + LSH banding**: fixed-width signatures (64 mins), banded so
  only same-band-hash docs are join candidates — the join key is the band
  hash, candidate volume is tunable via bands×rows, independent of corpus
  size.  100 TB path: signatures are 64×8 bytes/doc regardless of doc size.
- **SimHash**: 60-bit fingerprint via per-token hash bit-voting; candidate
  pairs from equal two-chunk pair keys over 5×12-bit chunks (pigeonhole:
  hamming ≤ 3 flips ≤ 3 chunks, leaving a clean pair — full recall at
  2²⁴-wide join keys), verified by exact hamming distance.

Both LSH families use an ENGINE-PORTABLE hash base — md5 hex truncated to
60 bits — so their entire pipelines are oracle-checkable: MinHash adds
affine permutations in overflow-safe modular arithmetic (DuckDB errors on
BIGINT overflow where Spark silently wraps, so every product is kept
< 2⁶³ by construction); SimHash bit-votes the 60 raw bits into 5×12-bit
chunks.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_query_engine_spark.functions.hashing import (
    md5_prefix_long,
    md5_prefix_long_sql,
)
from simple_query_engine_spark.functions.caching import cut_lineage, session_cache
from simple_query_engine_spark.operators.text import _NORM, _normalized, _shingle_array
from simple_query_engine_spark.sources.catalog import table

JACCARD_THRESHOLD = 0.5
NUM_MINHASH = 64
MINHASH_BANDS = 16  # 16 bands × 4 rows
SIMHASH_MAX_HAMMING = 3
# Document-frequency cap for the exact-Jaccard baseline's shingle self-join:
# a shingle present in more than this many documents is dropped before the
# join, bounding per-key fan-out (a df-D shingle alone produces D·(D−1)/2
# join rows; at 100 TB a boilerplate shingle would otherwise be quadratic).
MAX_SHINGLE_DF = 64

# Modular hash family, identical in Spark and DuckDB:
#   base(x)  = int(md5(x)[:15 hex], 16) % P      (60-bit value → % P < 2³¹)
#   h_i(x)   = (a_i * base(x) + b_i) % P         (product < 2³¹·2³¹ = 2⁶² ✓)
_SHINGLE_WIDTH = 3  # word n-gram width for near-dup shingling
_MERSENNE_P = 2_147_483_647  # 2³¹ − 1
_MINHASH_PARAMS = [
    ((2 * i + 1 + 0x9E3779B9) % _MERSENNE_P, (i * 0x85EBCA6B) % _MERSENNE_P)
    for i in range(NUM_MINHASH)
]


def _tokenized(documents: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, w): the normalized word array every
    shingle consumer reads, in its own projection (the CSE note on
    _shingle_array).

    The input is repartitioned on doc_id — with an EXPLICIT partition
    count — before the compute-heavy shingle work: a small single-split
    parquet file would otherwise pin the CPU-bound stage to one task, and
    a count-less ``repartition("doc_id")`` gets AQE-coalesced back to ~1
    partition because the *bytes* are small even though the *compute*
    isn't (measured: 3.7 s → 0.9 s for the sf0.1 shingle stage).  At
    scale the same repartition bounds per-task skew from variable-length
    documents.  A streaming input gets it per micro-batch too (sf0.1
    stream_decontamination warm runs: 2.0–2.4 s with it, 3.9–4.7 s
    without).

    A NULL text has no words, so its document gets no row: it shingles
    to nothing and pairs with nothing, as in the DuckDB oracles (where
    ``_shingle_array`` would turn ``size(NULL)`` = −1 into ``['']``).
    """
    documents = documents.filter(F.col("text").isNotNull()).repartition(
        documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    return documents.select(
        "doc_id", F.split(_normalized(F.col("text")), " ").alias("w")
    )


def _shingles_of(documents: DataFrame, sf_dir: str, cache_key: str) -> DataFrame:
    """doc_id → exploded distinct word-3-gram shingles (short docs collapse
    to one whole-text shingle) for any ``(doc_id, text)`` source."""
    shingle_array = _shingle_array(F.col("w"), _SHINGLE_WIDTH)
    return session_cache(
        _tokenized(documents).select(
            "doc_id", F.explode(shingle_array).alias("shingle")
        ),
        sf_dir,
        cache_key,
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shingles_of(table(spark, sf_dir, "documents"), sf_dir, "dedup_shingles")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id.

    At 100 TB the shuffle carries (digest, doc_id) pairs only — documents
    themselves never move; survivors are recovered by a later semi-join.
    """
    documents = table(spark, sf_dir, "documents")
    return (
        documents.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — keep the LATEST row per key: the CDC
    pattern every lakehouse ingest runs (a stream of upserts keyed by
    (user, event_type), compacted to current state before a merge).
    ``row_number`` over (ts DESC, event_id DESC) picks exactly one row
    per key — the event_id tiebreak makes the choice deterministic even
    for equal timestamps, so the surviving (key → value) mapping is
    engine-identical.

    Scale shape: ONE hash shuffle on the key (the window's
    partitionBy); within each partition the sort is local and the
    filter is rank=1 — no global sort, no second pass.  At 100 TB of
    changelog this is the standard pre-merge compaction; Spark plans it
    as a single WindowExec over the keyed exchange.
    """
    from pyspark.sql.window import Window

    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("latest_epoch"),
            F.round(F.col("value") * 100).cast("long").alias("latest_cents"),
        )
    )


def _cap_shingle_df(shingles: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The hot-shingle list is found by a full aggregate (map-side partial
    combine shrinks it to one row per distinct shingle) and is tiny by
    definition — only keys hotter than the cap survive the HAVING — so it
    broadcasts, and the removal is a broadcast anti-join that preserves the
    stream side's partitioning (no extra exchange before the set-size
    window)."""
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return shingles.join(F.broadcast(hot), "shingle", "left_anti")


def _pair_stats(
    shingles: DataFrame, sf_dir: str, cache_key: str = "dedup_jaccard_windowed"
) -> DataFrame:
    """Shingle self-join → per-pair (common_shingles, size_a, size_b).

    Set sizes ride along on each shingle row via a count window over
    doc_id — the window reuses the partitioning the shingle stage already
    has (no extra exchange when defaultParallelism == shuffle.partitions),
    and it removes the two separate size-lookup join legs a naive plan
    needs.  The windowed table is cached so the self-join's two legs read
    one materialization instead of recomputing the cap anti-join + window
    per side (session-scoped via :func:`session_cache`).
    """
    from pyspark.sql.window import Window

    shingles = session_cache(
        shingles.withColumn(
            "set_size", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        ),
        sf_dir,
        cache_key,
    )
    left = shingles.alias("a")
    right = shingles.alias("b")
    return (
        left.join(
            right,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("common_shingles"),
            F.min("a.set_size").alias("size_a"),
            F.min("b.set_size").alias("size_b"),
        )
    )


def _jaccard_pairs(shingles: DataFrame, sf_dir: str) -> DataFrame:
    """Pair docs by shared shingles and score exact Jaccard ≥ threshold."""
    pairs = _pair_stats(shingles, sf_dir)
    jaccard = F.col("common_shingles") / (
        F.col("size_a") + F.col("size_b") - F.col("common_shingles")
    )
    return (
        pairs.withColumn("jaccard", F.round(jaccard, 4))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", "common_shingles", "jaccard")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the LSH methods' ground truth).

    Plan: shingle explode → distinct → df-cap anti-join (see
    ``_cap_shingle_df``) → self-equi-join on shingle (hash shuffle on the
    shingle key, AQE splits skewed frequent shingles) → per-pair overlap
    count → Jaccard from per-doc set sizes.  Jaccard is computed over the
    *capped* shingle sets on both sides, and the DuckDB oracle applies the
    identical cap, so the two engines agree bit-for-bit.
    """
    return _jaccard_pairs(_cap_shingle_df(_shingles(spark, sf_dir)), sf_dir)


def _minhash_signature(documents: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, signature): the array of NUM_MINHASH
    minimum permuted hashes over the document's distinct shingles (the
    ``_shingles_of`` definition), the ONE MinHash construction.

    A pure projection — no explode, no groupBy — so it serves batch and
    streaming inputs alike (Structured Streaming allows one stateful
    operator, and the decontamination rollup needs it); each min is an
    ``array_min`` over the in-row hashed shingle array, so cost is per-row
    and the operator parallelizes embarrassingly.  Signature width is
    constant per doc regardless of doc length.  The hashed array
    materializes in its own projection (the 64 permutation lambdas all
    reference it), and the 64 permutations are ONE ``F.expr`` string —
    a py4j call, where 64 lambda-bearing Column graphs cost ~2,000 round
    trips on the build path of every LSH-family query.

    A NULL text gets no signature row (``_tokenized``): it pairs with
    nothing (the oracle's NULL signature matches nothing).
    """
    shingle_array = _shingle_array(F.col("w"), _SHINGLE_WIDTH)
    hashed = _tokenized(documents).select(
        "doc_id",
        F.transform(
            shingle_array, lambda s: md5_prefix_long(s, 15) % _MERSENNE_P
        ).alias("hs"),
    )
    sig = F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(hs, h -> ({a}L * h + {b}L) % {_MERSENNE_P}L))"
            for (a, b) in _MINHASH_PARAMS
        )
        + ")"
    )
    return hashed.select("doc_id", sig.alias("signature"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → array of NUM_MINHASH minimum permuted shingle hashes over
    the documents table.  The base hash is md5-derived (engine-portable)
    — see module docstring."""
    return _minhash_signature(table(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: band signatures, join on band hash,
    verify candidates by estimated Jaccard (fraction of equal mins).

    This is the 100 TB near-dup path: candidate generation is an equi-join
    on (band_index, band_hash) — no all-pairs anywhere; the verify step
    compares two 64-long arrays per candidate.

    Physical shape: the signature table is materialized once (cache here;
    a persisted signature table in production — recomputing it per self-join
    side doubles the dominant cost) and the band join carries only
    (doc_id, band_idx, band_hash) — 24 bytes/row — with the 512-byte
    signatures fetched afterwards for the deduped candidate pairs only.
    """
    from simple_query_engine_spark.functions.caching import session_materialize

    sig = session_materialize(
        minhash_signatures(spark, sf_dir), sf_dir, "dedup_minhash_sig"
    )
    return _minhash_lsh_pairs(sig, JACCARD_THRESHOLD)


def _band_rows(sig: DataFrame, keep_signature: bool = False) -> DataFrame:
    """Explode a signature table into (doc_id, band_idx, band_hash) rows —
    the 24-byte join keys of every LSH candidate join.  With
    ``keep_signature`` the 64-long signature rides along (the STREAMING
    candidate path can't join back to a keyed signature table without a
    second stateful operator, so it carries the array through the
    explode instead)."""
    rows_per_band = NUM_MINHASH // MINHASH_BANDS
    keep = ["doc_id", "signature"] if keep_signature else ["doc_id"]
    # Portable band key: md5 over the pipe-joined band slice (longs render
    # identically in both engines).  One F.expr for the whole band array
    # (the _minhash_signature py4j discipline).
    bands_sql = ", ".join(
        "named_struct('band_idx', {b}, 'band_hash', md5(concat_ws('|', {refs})))".format(
            b=band,
            refs=", ".join(
                f"signature[{band * rows_per_band + r}]"
                for r in range(rows_per_band)
            ),
        )
        for band in range(MINHASH_BANDS)
    )
    return sig.select(
        *keep,
        F.expr(f"explode(array({bands_sql}))").alias("band"),
    ).select(*keep, "band.band_idx", "band.band_hash")


def _minhash_lsh_pairs(sig: DataFrame, threshold: float) -> DataFrame:
    """Band a (cached) signature table, join candidates on the band hash,
    verify by estimated Jaccard ≥ ``threshold``."""
    bands = _band_rows(sig)
    left = bands.alias("a")
    right = bands.alias("b")
    candidates = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_id_a"), F.col("signature").alias("sig_a")
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_id_b"), F.col("signature").alias("sig_b")
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(NUM_MINHASH)
    return (
        candidates.join(sig_a, "doc_id_a")
        .join(sig_b, "doc_id_b")
        .withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "est_jaccard")
    )


# Planted-near-duplicate gate (VERDICT r04 item 6): the synthetic corpus's
# own near-dup ceiling is moderate (the 0.5 threshold above sits at the top
# of its real Jaccard distribution), so the PRODUCTION threshold (0.8) would
# never fire on it and its oracle check would be vacuous.  This query derives
# a planted corpus deterministically INSIDE the query — every PLANT_DOC_MOD-th
# document gains a copy with one appended token, a true near-duplicate
# (word-3-gram Jaccard (W−2)/(W−1) ≈ 0.95+ for normal-length docs) — and runs
# the same banded MinHash-LSH pipeline at the production threshold.  The
# DuckDB oracle performs the identical derivation, so detection at ≥ 0.8 is
# exercised by the hash-checked gate itself, not only by unit tests.
PLANT_DOC_MOD = 20
PLANT_DOC_OFFSET = 1_000_000
PLANT_SUFFIX = "zzplantedsuffix"
PLANTED_JACCARD_THRESHOLD = 0.8


def offset_doc_id(offset: int, context: str):
    """``doc_id + offset`` with the loud collision guard every derived-id
    space needs: the offset-keyed constructions (planted twins, leaked
    eval copies, incremental-batch news) all assume every REAL doc_id <
    offset — a corpus that outgrows it would otherwise silently collide
    derived ids with real ones (MERGE updates where the oracle appends,
    batch/corpus splits keyed on the offset misclassify).  Same per-row
    codegen when/raise_error shape as ``_planted_documents``'s guard."""
    return F.when(F.col("doc_id") < offset, F.col("doc_id") + offset).otherwise(
        F.raise_error(
            F.lit(
                f"{context}: real doc_id >= offset ({offset}); "
                "raise the offset for this corpus"
            )
        ).cast("long")
    )


def _planted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Loud-failure guard (ADVICE r05): the planted-id space assumes every
    # real doc_id < PLANT_DOC_OFFSET.  The check is folded into the output
    # doc_id expression (a per-row codegen comparison — not an eager
    # action, and not prunable), so a corpus that outgrows the offset
    # fails the query instead of silently corrupting the planted gate and
    # the incremental batch/corpus split keyed on the offset.
    guard = F.when(F.col("doc_id") < PLANT_DOC_OFFSET, F.col("doc_id")).otherwise(
        F.raise_error(
            F.lit(
                "planted-id collision: real doc_id >= PLANT_DOC_OFFSET "
                f"({PLANT_DOC_OFFSET}); raise the offset for this corpus"
            )
        ).cast("long")
    )
    docs = table(spark, sf_dir, "documents").select(
        guard.alias("doc_id"), "text"
    )
    planted = docs.filter(F.col("doc_id") % PLANT_DOC_MOD == 0).select(
        (F.col("doc_id") + PLANT_DOC_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + PLANT_SUFFIX)).alias("text"),
    )
    return docs.unionByName(planted)


def _planted_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-corpus signature table, MATERIALIZED for the session
    (scan-leaf lineage): it feeds the band joins of the planted,
    incremental and components entries, batch and streaming, and a
    cached-but-unmaterialized plan keeps its subtree — the planted union
    under 64 lambda ``transform`` expressions — for the JVM to re-analyze
    inside every consumer's every transformation (see
    ``session_materialize``).  Measured at sf0.1 against a
    ``session_cache`` twin, two processes each: graph_components_incremental
    warm runs 2.0–2.4 s materialized vs 2.3–2.9 s cached; the planted and
    incremental entries were within noise."""
    from simple_query_engine_spark.functions.caching import session_materialize

    return session_materialize(
        _minhash_signature(_planted_documents(spark, sf_dir)),
        sf_dir,
        "dedup_minhash_sig_planted",
    )


def q_dedup_planted_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at the PRODUCTION threshold (0.8) over the
    planted corpus — same plan shape as :func:`q_dedup_minhash_lsh` (banded
    equi-join, cached signature table, no all-pairs anywhere); only the
    input relation and the verify threshold differ."""
    return _minhash_lsh_pairs(
        _planted_sig(spark, sf_dir), PLANTED_JACCARD_THRESHOLD
    )


# Containment (|A∩B| / min(|A|,|B|)) catches the asymmetric near-dup the
# symmetric Jaccard misses: a short document embedded verbatim inside a much
# longer one scores low Jaccard (union is large) but containment 1.0.  The
# standard curation companion to the Jaccard/MinHash family.
CONTAINMENT_THRESHOLD = 0.9


def q_dedup_containment_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs at the production 0.9 threshold over the
    planted corpus (every planted copy contains ALL of its original's
    shingles, so these pairs score containment 1.0 — exercised by the
    oracle gate, not just unit tests).

    Same exact-baseline plan shape as :func:`q_dedup_ngram_jaccard`
    (df-capped shingle self-join, identical cap in the oracle); the shingle
    and window caches are shared with the other planted queries.
    """
    sh = _cap_shingle_df(
        _shingles_of(
            _planted_documents(spark, sf_dir), sf_dir, "dedup_shingles_planted"
        )
    )
    pairs = _pair_stats(sh, sf_dir, "dedup_containment_windowed")
    containment = F.col("common_shingles") / F.least("size_a", "size_b")
    return (
        pairs.withColumn("containment", F.round(containment, 4))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_id_a", "doc_id_b", "common_shingles", "containment")
    )


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: an incoming batch checked against the existing
    corpus WITHOUT a corpus self-join — the production shape for continuous
    ingestion, where the corpus signature table is persisted once and each
    new batch only joins its own bands against it.

    The planted copies (doc_id ≥ PLANT_DOC_OFFSET) play the incoming
    batch; the originals play the persisted corpus (the session cache
    stands in for the persisted table — same table the other planted
    queries share).  Candidate volume is |batch_bands| ⋈ |corpus_bands|
    on the 24-byte band key, so ingest cost scales with the BATCH, not
    the corpus; est-Jaccard verification at the production 0.8 threshold.
    """
    sig = _planted_sig(spark, sf_dir)
    incoming = sig.filter(F.col("doc_id") >= PLANT_DOC_OFFSET)
    corpus = sig.filter(F.col("doc_id") < PLANT_DOC_OFFSET)
    candidates = (
        _band_rows(incoming)
        .alias("a")
        .join(
            _band_rows(corpus).alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
        )
        .dropDuplicates(["new_doc_id", "corpus_doc_id"])
    )
    sig_new = sig.select(
        F.col("doc_id").alias("new_doc_id"), F.col("signature").alias("sig_a")
    )
    sig_old = sig.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("signature").alias("sig_b")
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(NUM_MINHASH)
    return (
        candidates.join(sig_new, "new_doc_id")
        .join(sig_old, "corpus_doc_id")
        .withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= PLANTED_JACCARD_THRESHOLD)
        .select("new_doc_id", "corpus_doc_id", "est_jaccard")
    )


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-shingle coverage: the fraction of a doc's
    distinct shingles that appear in at least one OTHER document — the
    contamination diagnostic run before choosing dedup thresholds.

    Exact arithmetic end-to-end (counts and 0/1 means — no float-order
    hazard).  Shape at 100 TB: the shingle-DF aggregation collapses
    map-side; the shingle⋈DF join is unhinted (AQE broadcasts when the
    distinct-shingle table fits); per-doc means are a partial-agg shuffle.
    """
    sh = _shingles(spark, sf_dir)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(F.avg((F.col("df") > 1).cast("double")), 4).alias(
                "dup_coverage"
            ),
        )
    )


# Fixed-width window for the substring-level dedup diagnostic: a duplicated
# substring of >= DUP_SPAN_WORDS words is caught by (all of) its constituent
# windows, so maximal runs of duplicated windows recover the duplicated
# substring's extent exactly.
DUP_SPAN_WORDS = 8


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: per document, the OCCURRENCE-level
    fraction of overlapping {DUP_SPAN_WORDS}-word windows whose content
    also appears in another document, plus the maximal consecutive
    duplicated runs — the unit substring-dedup excises (the public
    "deduplicating training data" recipe: repeated spans inside otherwise
    unique pages are what exact-dedup misses and what inflates
    memorization).  Differs from ``text_dup_ngram_coverage`` on both axes:
    occurrence-level (a span repeated 5× in one doc counts 5×, not once)
    and run-collapsed (consecutive duplicated windows merge into one
    maximal span, so ``max_dup_words`` is the longest duplicated
    substring's length in words).

    The reference engine has no text operators; this extends its scan →
    filter → project pipeline shape (src/query_engine.rs:96-117) to the
    training-data layer the brief requires.

    Scale shape: fixed-width window fingerprinting is the shuffle-friendly
    substitute for the single-machine suffix-array construction — windows
    shuffle as 32-byte md5 keys, never text; the cross-doc document
    frequency is a two-level aggregate (map-side partial on (h, doc_id));
    the flag join is keyed on the fingerprint; the run collapse is a
    per-doc window (gaps-and-islands on window position) after a doc_id
    shuffle.  Nothing is all-pairs and nothing is driver-side; at 100 TB
    the span table is ~n_words rows of (doc_id, pos, 16-byte digest).
    """
    from pyspark.sql.window import Window

    documents = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    words = F.col("w")
    span_array = F.when(
        F.size(words) >= DUP_SPAN_WORDS,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (DUP_SPAN_WORDS - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, DUP_SPAN_WORDS))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tokenized = documents.select(
        "doc_id", F.split(_normalized(F.col("text")), " ").alias("w")
    )
    occ = session_cache(
        tokenized.select("doc_id", F.posexplode(span_array).alias("pos", "h")),
        sf_dir,
        "dedup_substring_occ",
    )
    dup = (
        occ.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    flagged = occ.join(
        dup.withColumn("is_dup", F.lit(True)), "h", "left"
    ).select("doc_id", "pos", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    totals = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("is_dup").cast("long")).alias("dup_spans"),
    )
    isl = flagged.filter("is_dup").withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    runs = isl.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    runagg = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        (F.max("run_len") + (DUP_SPAN_WORDS - 1)).alias("max_dup_words"),
    )
    return (
        documents.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(runagg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
            F.coalesce("max_dup_words", F.lit(0)).cast("long").alias(
                "max_dup_words"
            ),
            F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("(dup_spans * 1000000) div n_spans").cast("long")
            )
            .alias("dup_span_ppm"),
        )
    )


# Content-defined chunking: a word position closes a chunk when the
# rolling window hash of the CDC_WINDOW words ending there is ≡ 0 mod
# CDC_MASK_MOD — expected chunk length ≈ CDC_MASK_MOD words.
CDC_WINDOW = 3
CDC_MASK_MOD = 8


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (the storage-dedup / gear-hash
    recipe applied to text): chunk boundaries fall where the hash of the
    {CDC_WINDOW}-word window ending at a position is ≡ 0 (mod
    {CDC_MASK_MOD}), so boundaries are a pure function of LOCAL content —
    an insertion early in a document shifts every fixed-width window
    after it (``dedup_substring_spans``' blind spot at chunk granularity)
    but leaves CDC chunk identities untouched from the next boundary on
    (shift-resistance pinned by a planted test).  Chunks dedup across
    the corpus by content hash; per document the output reports chunk
    count and the duplicated-chunk token mass — the bytes a chunk-level
    dedup store would not re-store.

    Whole derivation is array-side inside the row (the
    ``dedup_substring_spans`` span construction): boundary positions,
    chunk ranges, and chunk digests are higher-order array functions over
    the tokenized document — scan-side map work, NO shuffle until chunks
    aggregate by 32-hex digest.  Cross-doc duplication is the same
    two-level (digest, doc) aggregate as the span entry; per-doc rollup
    shuffles (doc_id)-keyed rows.  At 100 TB the chunk table is
    ~n_words/{CDC_MASK_MOD} rows of (doc_id, pos, digest) — ~8× smaller
    than the per-window span table — and nothing is all-pairs."""
    documents = table(spark, sf_dir, "documents")
    tokenized = documents.select(
        "doc_id", F.split(_normalized(F.col("text")), " ").alias("w")
    )
    w = F.col("w")
    n = F.size(w)
    boundary_hash = lambda i: F.pmod(  # noqa: E731 - local hash closure
        md5_prefix_long(
            F.concat_ws(" ", F.slice(w, i - (CDC_WINDOW - 1), CDC_WINDOW)), 15
        ),
        F.lit(CDC_MASK_MOD),
    )
    interior = F.when(
        n - 1 >= CDC_WINDOW,
        F.filter(
            F.sequence(F.lit(CDC_WINDOW), n - 1),
            lambda i: boundary_hash(i) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    with_bounds = tokenized.select(
        "doc_id",
        "w",
        n.alias("n"),
        F.concat(F.array(F.lit(1)), F.transform(interior, lambda e: e + 1)).alias(
            "starts"
        ),
        F.concat(interior, F.array(n)).alias("ends"),
    )
    chunks = with_bounds.select(
        "doc_id",
        "n",
        F.posexplode(
            F.zip_with(
                F.col("starts"),
                F.col("ends"),
                lambda s, e: F.struct(
                    (e - s + 1).alias("chunk_words"),
                    F.md5(F.concat_ws(" ", F.slice(F.col("w"), s, e - s + 1))).alias(
                        "h"
                    ),
                ),
            )
        ).alias("chunk_idx", "c"),
    ).select("doc_id", "n", "chunk_idx", F.col("c.chunk_words"), F.col("c.h"))
    dup = (
        chunks.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h", F.lit(True).alias("is_dup"))
    )
    flagged = chunks.join(dup, "h", "left").select(
        "doc_id",
        "n",
        "chunk_words",
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
    )
    return flagged.groupBy("doc_id", "n").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_dup").cast("long")).alias("dup_chunks"),
        F.sum(F.when(F.col("is_dup"), F.col("chunk_words")).otherwise(0)).alias(
            "dup_words"
        ),
    ).select(
        "doc_id",
        F.col("n").cast("long").alias("n_words"),
        "n_chunks",
        "dup_chunks",
        F.col("dup_words").cast("long").alias("dup_words"),
        F.expr("dup_words * 1000000 div n").cast("long").alias("dup_word_ppm"),
    )


def _cdc_oracle_sql() -> str:
    """DuckDB twin: same window-hash boundary rule, chunk ranges, and
    digests via list higher-order functions, then the two-level dup
    aggregate."""
    win = md5_prefix_long_sql(
        f"array_to_string(w[i - {CDC_WINDOW - 1}:i], ' ')", 15
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
        ), base AS (
            SELECT doc_id, w, len(w) AS n,
                   CASE WHEN len(w) - 1 >= {CDC_WINDOW}
                        THEN list_filter(range({CDC_WINDOW}, len(w)),
                                         i -> {win} % {CDC_MASK_MOD} = 0)
                        ELSE CAST([] AS BIGINT[]) END AS interior
            FROM docs
        ), bounds AS (
            SELECT doc_id, w, n,
                   list_concat([CAST(1 AS BIGINT)],
                               list_transform(interior, e -> e + 1)) AS starts,
                   list_concat(interior, [CAST(n AS BIGINT)]) AS ends
            FROM base
        ), occ AS (
            SELECT doc_id, n,
                   unnest(list_transform(range(1, len(starts) + 1), i -> {{
                       'chunk_words': ends[i] - starts[i] + 1,
                       'h': md5(array_to_string(w[starts[i]:ends[i]], ' '))
                   }})) AS c
            FROM bounds
        ), occ2 AS (
            SELECT doc_id, n, c.chunk_words AS chunk_words, c.h AS h FROM occ
        ), dup AS (
            SELECT h FROM (
                SELECT h, COUNT(DISTINCT doc_id) AS cd FROM occ2 GROUP BY h
            ) WHERE cd >= 2
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_words,
               COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                             THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                             THEN chunk_words ELSE 0 END) AS BIGINT) AS dup_words,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                             THEN chunk_words ELSE 0 END) * 1000000
                    // n AS BIGINT) AS dup_word_ppm
        FROM occ2 GROUP BY doc_id, n
    """


SIMHASH_BITS = 60  # md5-derived base hash is 15 hex digits = 60 bits
# 5 × 12-bit chunks, candidates keyed on PAIRS of chunks (24-bit keys):
# hamming ≤ 3 flips bits in ≤ 3 chunks, leaving ≥ 2 untouched, so some
# two-chunk pair matches exactly — full recall, like single-chunk keys,
# but each join key space is 2²⁴ instead of 2¹⁵: per-bucket fan-out (the
# N²/2^keybits candidate volume) drops ~500× at any corpus size, for
# C(5,2)=10 key families instead of 4.  (The standard fingerprint
# block-permutation trade — wider keys × more tables.)
SIMHASH_CHUNKS = 5
_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
_CHUNK_PAIRS = [
    (i, j) for i in range(SIMHASH_CHUNKS) for j in range(SIMHASH_CHUNKS) if i < j
]


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 60-bit SimHash as SIMHASH_CHUNKS equal-width chunks (chunk
    pairs form the LSH bucketing keys for hamming-distance candidates).

    The per-token hash is the same portable md5-derived 60-bit value the
    MinHash family uses, so the whole bit-voting pipeline is
    oracle-checkable.
    """
    documents = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    base = md5_prefix_long("token", 15)
    tokens = documents.select(
        "doc_id",
        F.explode(F.split(_normalized(F.col("text")), " ")).alias("token"),
    ).select("doc_id", base.alias("h"))
    # Bit-vote: sum(+1/-1) per bit position, one aggregate pass.
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(SIMHASH_BITS)
    ]
    voted = tokens.groupBy("doc_id").agg(*votes)
    chunks = [
        sum(
            (
                F.when(
                    F.col(f"v{chunk * _CHUNK_BITS + i}") > 0, F.lit(1 << i)
                ).otherwise(0)
            )
            for i in range(_CHUNK_BITS)
        ).alias(f"chunk{chunk}")
        for chunk in range(SIMHASH_CHUNKS)
    ]
    return voted.select("doc_id", *chunks)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: candidates share an equal two-chunk pair
    (see the SIMHASH_CHUNKS comment — ≤3 flipped bits leave ≥2 chunks
    clean, so recall for hamming ≤ SIMHASH_MAX_HAMMING is guaranteed),
    then verified by exact hamming distance over the full fingerprint."""
    # Cache: both legs of the self-join read pair_rows — without the cache
    # each leg re-runs the signature aggregation (token explode + 60
    # bit-vote sums), doubling the dominant cost.
    sig = simhash_signatures(spark, sf_dir)
    chunk_cols = [f"chunk{i}" for i in range(SIMHASH_CHUNKS)]
    pair_rows = sig.select(
        "doc_id",
        *chunk_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("pair_idx"),
                        F.col(f"chunk{i}").alias("val_i"),
                        F.col(f"chunk{j}").alias("val_j"),
                    )
                    for p, (i, j) in enumerate(_CHUNK_PAIRS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", *chunk_cols, "c.pair_idx", "c.val_i", "c.val_j")
    pair_rows = session_cache(pair_rows, sf_dir, "dedup_simhash_pairs")
    left = pair_rows.alias("a")
    right = pair_rows.alias("b")
    hamming = sum(
        F.bit_count(
            F.col(f"a.chunk{i}").bitwiseXOR(F.col(f"b.chunk{i}")).cast("long")
        )
        for i in range(SIMHASH_CHUNKS)
    )
    return (
        left.join(
            right,
            (F.col("a.pair_idx") == F.col("b.pair_idx"))
            & (F.col("a.val_i") == F.col("b.val_i"))
            & (F.col("a.val_j") == F.col("b.val_j"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.alias("hamming_distance"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .filter(F.col("hamming_distance") <= SIMHASH_MAX_HAMMING)
    )


MAX_CC_ITERATIONS = 15

# The per-round connected-components label tables are cut to parquet
# (``caching.cut_lineage``) under the engine's one scratch root
# (``storage.scratch_dir``, session conf ``spark.sqe.scratchDir``; on a
# cluster, a shared mount every executor can read).  This replaces
# ``localCheckpoint``: reliable files survive executor loss, and round
# cleanup is an ordinary directory delete instead of private-API block
# bookkeeping.

# Size-adaptive graphs (guide §2.4 "remove shuffles outright" applied to
# the iterative family): one bounded ``limit(cap+1)`` probe sizes a
# SYMMETRIC edge list and, when it holds at most this many rows, already
# holds every edge — the broadcast-join analogue for graphs (a 200k-row
# edge list is ~3 MB of longs, the same order as a broadcast relation).
# Two placements follow from the probe:
#
# - under the cap, the whole graph is solved on the driver over the
#   probe's rows: union-find for components, the pure per-graph solvers
#   (PageRank, label spreading, k-core) via ``_solve_graph``;
# - over the cap, components run the distributed pointer-doubling
#   rounds, and the graph trio tags every edge with its component and
#   runs the SAME solver once per component on the executors
#   (``groupBy(component).applyInPandas``) — each algorithm depends only
#   on a node's component, so the per-component results union to the
#   whole-graph answer.
#
# The REDUCED per-batch graphs of the incremental/streaming entries stay
# under the cap even at 100 TB (their node set is ∝ batch by
# construction), while a corpus-sized pair graph crosses it.  0 forces
# the over-cap placement (tests pin both placements against each other).
CC_LOCAL_EDGE_CAP = 200_000


def _bounded_probe(df: DataFrame) -> pd.DataFrame | None:
    """The one bounded probe of ``CC_LOCAL_EDGE_CAP``: every row of
    ``df`` as pandas when it holds at most cap rows, else None (always
    None at cap 0).  One job that stops after cap + 1 rows — an over-cap
    input is never scanned in full."""
    cap = CC_LOCAL_EDGE_CAP
    if cap <= 0:
        return None
    head = df.limit(cap + 1).toPandas()
    return head if len(head) <= cap else None


def _solve_graph(edges: DataFrame, solver, schema: str) -> DataFrame:
    """Run a pure graph ``solver`` over a symmetric ``(src, dst[, seed
    columns])`` edge list.  The solver maps a pandas edge frame to a
    pandas result keyed by ``doc_id``; ``schema`` is the DDL of the
    result columns after ``doc_id``, whose type is the edges' node type.

    Placement (see ``CC_LOCAL_EDGE_CAP``): under the cap the solver
    runs once on the driver over the bounded probe's rows; over it, every
    edge is tagged with its ``_propagate_labels`` component and the
    solver runs per component in a grouped map.  The per-group bound is
    the largest component, which must fit in one Python worker.  The
    graph is probed once: an over-cap graph goes straight to the
    distributed component rounds."""
    spark = edges.sparkSession
    schema = f"doc_id {edges.schema['src'].dataType.simpleString()}, {schema}"
    head = _bounded_probe(edges)
    if head is not None:
        return spark.createDataFrame(solver(head), schema)
    labels, _ = _propagate_labels(edges.select("src", "dst"), probed=True)
    component = labels.select(
        F.col("doc_id").alias("src"), F.col("label").alias("_component")
    )
    return (
        edges.join(component, "src")
        .groupBy("_component")
        .applyInPandas(solver, schema)
    )


def _local_components(spark: SparkSession, src_pairs, node_type) -> DataFrame:
    """Driver-side min-label connected components over a bounded
    ``(src, dst)`` edge list: union-find (by rank, path-halving), then
    the component minimum as every member's label — exactly the fixpoint
    ``_propagate_labels``' distributed rounds converge to."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}
    rank: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in src_pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rank.get(ra, 0) < rank.get(rb, 0):
            ra, rb = rb, ra
        parent[rb] = ra
        if rank.get(ra, 0) == rank.get(rb, 0):
            rank[ra] = rank.get(ra, 0) + 1
    roots = {n: find(n) for n in nodes}
    minl: dict = {}
    for n, r in roots.items():
        if r not in minl or n < minl[r]:
            minl[r] = n
    schema = StructType(
        [
            StructField("doc_id", node_type, True),
            StructField("label", node_type, True),
        ]
    )
    return spark.createDataFrame(
        [(n, minl[r]) for n, r in roots.items()], schema
    )


def _propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE synchronous round of min-label propagation with pointer
    doubling — the loop body of :func:`_propagate_labels`, extracted so
    the per-round plan (the shape that repeats at scale) can be audited
    un-materialized by ``tools/plan_audit.py``: a neighbor-min join +
    map-side-combined aggregate, a left join back, then the doubling
    self-lookup."""
    neighbor_min = (
        edges.join(labels, edges.dst == labels.doc_id)
        .groupBy("src")
        .agg(F.min("label").alias("neighbor_label"))
    )
    stepped = (
        labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
        .select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("neighbor_label", F.col("label"))
            ).alias("label"),
        )
    )
    # Pointer doubling: every label value is itself a doc_id, so look
    # up the label's label and jump straight to it.
    anchor = stepped.select(
        F.col("doc_id").alias("anchor"), F.col("label").alias("anchor_label")
    )
    return (
        stepped.join(anchor, stepped.label == anchor.anchor, "left")
        .select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("anchor_label", F.col("label"))
            ).alias("label"),
        )
    )


def _propagate_labels(
    edges: DataFrame, max_iterations: int = MAX_CC_ITERATIONS, probed: bool = False
) -> tuple[DataFrame, int]:
    """Min-label propagation with pointer doubling over a bidirectional
    edge list ``(src, dst)``; returns the fixpoint ``(doc_id, label)``
    table and the number of distributed rounds it took (0 when the
    size-adaptive driver fast path solved the graph — see
    ``CC_LOCAL_EDGE_CAP``; both paths compute the identical
    min-label fixpoint, pinned against each other in tests).  ``probed``
    says the caller's own bounded probe already found ``edges`` over the
    cap, so the distributed rounds start without a second probe.

    Each round does two jumps: (a) take the minimum label over direct
    neighbors, then (b) jump again to *that label's own current label*
    (pointer doubling).  Plain neighbor-min needs O(component diameter)
    shuffle rounds — a 64-link chain of near-dups would exceed the
    iteration budget — while the doubling step lets label pointers skip
    geometrically, converging in O(log diameter) rounds (pinned in tests
    on a 64-chain).

    Two iterative-Spark disciplines, both load-bearing:

    - **Lineage truncation**: each round's label table is materialized to
      parquet under ``storage.scratch_dir`` and scanned back with its
      schema pinned (``caching.cut_lineage``, the step behind
      ``session_materialize``), so every round's plan starts from a scan
      leaf.  Without truncation the logical plan nests one round inside
      the next and the analyzer's self-join deduplication *copies* the
      nested subtree — exponential plan growth that OOMs the driver
      around round 5 (observed).
      ``localCheckpoint`` would also truncate, but its executor-memory
      blocks are lost on executor failure and cannot be released through
      any public PySpark API; a reliable parquet round-trip costs one
      write+read of a (doc_id, label) table per round and works unchanged
      on a real cluster with the scratch dir on shared storage.
    - **Bounded storage**: the previous round's files are deleted as soon
      as the next round has materialized, so scratch stays one label-table
      wide no matter how many rounds run.  Only the fixpoint table's files
      survive the call (the returned DataFrame scans them); a later
      ``scratch_dir`` call's age-gated sweep reclaims them.

    The driver sees only the 1-row convergence count per round; label
    data never touches the driver.
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    spark = edges.sparkSession
    # Size-adaptive fast path: ONE bounded probe (``_bounded_probe``,
    # never a full scan of an over-cap graph) both sizes the graph and,
    # when it fits, already holds every edge — union-find on the driver
    # replaces the whole round loop.  Rounds are reported as 0: no
    # distributed round ran.  See CC_LOCAL_EDGE_CAP above for why
    # this is the at-scale path for batch-reduced graphs, not a local rig
    # shortcut.
    # Persist the edge list for the probe AND any distributed rounds
    # (ADVICE r17): the bounded probe partially evaluates the
    # upstream pipeline (often the banded candidate joins) — persisting
    # first means the probe's partitions land in the cache instead of
    # being recomputed by the distributed loop, and the loop itself stops
    # re-running the un-cached upstream once per round.  Only unpersist
    # what WE persisted: a caller may pass a frame it cached itself.
    we_persisted = False
    if not edges.storageLevel.useMemory and not edges.storageLevel.useDisk:
        edges = edges.persist()
        we_persisted = True
    try:
        head = None if probed else _bounded_probe(edges.select("src", "dst"))
        if head is not None:
            node_type = edges.schema["src"].dataType
            return (
                _local_components(
                    spark,
                    zip(head["src"].tolist(), head["dst"].tolist()),
                    node_type,
                ),
                0,
            )
        return _propagate_labels_distributed(edges, max_iterations)
    finally:
        if we_persisted:
            edges.unpersist()


def _propagate_labels_distributed(
    edges: DataFrame, max_iterations: int
) -> tuple[DataFrame, int]:
    """The distributed pointer-doubling fixpoint loop of
    :func:`_propagate_labels` (unchanged algorithm, split out so the
    size-adaptive wrapper can release its probe cache in one place)."""
    from simple_query_engine_spark.operators.storage import scratch_dir

    scratch = scratch_dir(edges.sparkSession, "cc_")

    def _materialize(df: DataFrame, round_no: int) -> DataFrame:
        return cut_lineage(df, os.path.join(scratch, f"round_{round_no}"))

    def _drop_round(round_no: int) -> None:
        import shutil

        shutil.rmtree(os.path.join(scratch, f"round_{round_no}"), ignore_errors=True)

    labels = _materialize(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        0,
    )
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        new_labels = _materialize(_propagation_round(edges, labels), rounds)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        _drop_round(rounds - 1)
        labels = new_labels
        if changed == 0:
            break
    else:
        # Fail loudly rather than return partially-propagated labels: a
        # component needing more than MAX_CC_ITERATIONS doubling rounds
        # (diameter ≳ 2^MAX_CC_ITERATIONS) would silently split into
        # several clusters (double-keeping duplicates downstream).
        raise RuntimeError(
            f"connected components did not converge within {max_iterations} "
            f"iterations ({changed} labels still changing) — raise "
            "MAX_CC_ITERATIONS for graphs with very long near-dup chains"
        )
    return labels, rounds


def _localize_bounded_pairs(pairs: DataFrame) -> DataFrame:
    """Evaluate a (doc_id_a, doc_id_b) pair list ONCE and pin it as a
    local relation when it fits under ``CC_LOCAL_EDGE_CAP`` (one
    :func:`_bounded_probe` job).

    The incremental/streaming component entries consume their delta-edge
    list from several independent plans — the propagation probe, the
    node derivation, and the MERGE source materialization — and each
    consumer re-executed the banded candidate joins upstream of it.
    The delta is ∝ batch by design, so under the cap it becomes a local
    relation reused by every consumer; an over-cap list is returned
    unchanged (lazy, the pre-existing behavior)."""
    head = _bounded_probe(pairs)
    if head is None:
        return pairs
    return pairs.sparkSession.createDataFrame(head, schema=pairs.schema)


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b) pair list → bidirectional (src, dst) edge
    list — the shared prefix of every component/graph construction."""
    return (
        pairs.union(
            pairs.select(
                F.col("doc_id_b").alias("doc_id_a"), F.col("doc_id_a").alias("doc_id_b")
            )
        )
        .withColumnRenamed("doc_id_a", "src")
        .withColumnRenamed("doc_id_b", "dst")
    )


def _component_labels(pairs: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b) pair list → fixpoint (doc_id, label)
    component labels: symmetrize and propagate (``_propagate_labels``
    persists the edges for its probe and rounds) — shared by the cluster
    rollup and the quality-keeper entry so the prefix can never
    diverge."""
    labels, _ = _propagate_labels(_symmetric_edges(pairs))
    return labels


def _cluster_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a (doc_id_a, doc_id_b) pair list →
    (cluster_id, cluster_size, keep_doc_id)."""
    return (
        _component_labels(pairs)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .withColumnRenamed("label", "cluster_id")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the EXACT
    Jaccard pair graph via iterative min-label propagation with pointer
    doubling (see ``_propagate_labels`` for the convergence + caching
    story).

    Pair-dropping (pipeline_corpus_curation) removes the higher id of each
    pair; for chains a ⇔ b ⇔ c that can orphan or double-keep — the correct
    semantics is one survivor per *component*.  Iterative ⇒ not
    SQL-expressible round-by-round, but the *fixpoint* is: the DuckDB
    oracle computes the same relation via a recursive-CTE transitive
    closure, and equality with a union-find ground truth is pinned in
    tests.
    """
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return _cluster_components(pairs)


def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph — the 100 TB
    cluster path end-to-end: bucketed candidate generation feeds the same
    pointer-doubling propagation, so no stage of the composition is
    quadratic in the corpus.  Oracle: recursive-CTE closure over the same
    LSH pair SQL."""
    pairs = _neardup_pairs_cached(spark, sf_dir)
    return _cluster_components(pairs)


def q_dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-accuracy audit: how well the banded MinHash estimate tracks the
    exact n-gram Jaccard at the same threshold — pair-set sizes, overlap,
    and the max/mean |estimate − exact| over the matched pairs, in one row.

    Production near-dup pipelines ship this audit next to every threshold
    change: it is the measured answer to "what did switching to LSH cost
    in accuracy".  The exact side is the guarded ground-truth baseline
    (``_cap_shingle_df``), so this operator is an offline QUALITY AUDIT
    run on a sample/SF of the corpus, not a production-scale path — at
    100 TB the exact side is the part that must stay sampled, and both
    pair sets are near-dup-pair-count-sized (quadratic in nothing).

    Determinism: per-pair error is quantized to 1e-4 units first (one
    float op on two already-4-decimal values, never near a rounding
    boundary), summed exactly as integers, and divided once — the
    quantized-ln trick of ``text_unigram_surprisal`` applied to error
    accounting.
    """
    est = q_dedup_minhash_lsh(spark, sf_dir)
    exact = q_dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", "jaccard"
    )
    both = est.join(exact, ["doc_id_a", "doc_id_b"], "full_outer")
    matched = F.col("est_jaccard").isNotNull() & F.col("jaccard").isNotNull()
    err_e4 = F.round(
        F.abs(F.col("est_jaccard") - F.col("jaccard")) * 10_000, 0
    ).cast("long")
    agg = both.agg(
        F.sum(F.col("est_jaccard").isNotNull().cast("int")).alias("n_lsh_pairs"),
        F.sum(F.col("jaccard").isNotNull().cast("int")).alias("n_exact_pairs"),
        F.sum(matched.cast("int")).alias("n_matched"),
        F.max(F.when(matched, err_e4)).alias("max_abs_err_e4"),
        F.sum(F.when(matched, err_e4)).alias("sum_abs_err_e4"),
    )
    return agg.select(
        "n_lsh_pairs",
        "n_exact_pairs",
        "n_matched",
        "max_abs_err_e4",
        F.round(
            F.col("sum_abs_err_e4") / F.col("n_matched") / 10_000.0, 6
        ).alias("mean_abs_err"),
    )



def q_dedup_cluster_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster survivors: near-dup components where the
    keeper is the BEST member, not the smallest id — the production
    keeper rule (``_cluster_components`` keeps min-doc_id; real curation
    keeps the highest-quality copy of each near-dup family).

    Quality is the certified trained NB classifier score
    (``text_quality_classifier`` — exact integer micro-units, so the
    (score_micro DESC, doc_id ASC) keeper pick is a total order both
    engines agree on bit-for-bit).  Components come from the same
    MinHash-LSH pair graph + pointer-doubling propagation as
    ``dedup_clusters_lsh``; ``keeper_not_min_id`` flags the clusters
    where the quality rule actually changed the outcome vs min-id.

    Shape at 100 TB: the pair graph is banded-LSH (never all-pairs),
    components are O(log diameter) rounds, the score join is
    doc_id-keyed, and both the row_number pick and the size count share
    ONE hash-partitioning on cluster_id (a single window exchange).
    Oracle: recursive-CTE closure + the same classifier SQL + the same
    ROW_NUMBER pick.
    """
    from pyspark.sql.window import Window

    from simple_query_engine_spark.operators.text import q_quality_classifier

    pairs = _neardup_pairs_cached(spark, sf_dir)
    members = _component_labels(pairs).withColumnRenamed("label", "cluster_id")
    quality = q_quality_classifier(spark, sf_dir).select("doc_id", "score_micro")
    # Every clustered doc has shingles, hence tokens, hence a score row —
    # the inner join drops nothing (pinned in tests).
    scored = members.join(quality, "doc_id")
    w_pick = Window.partitionBy("cluster_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("score_micro").alias("keep_score_micro"),
            (F.col("doc_id") != F.col("cluster_id")).alias("keeper_not_min_id"),
        )
    )


def _keeper_quality_oracle_sql() -> str:
    """DuckDB oracle for the quality-keeper clusters: the SHARED
    ``_closure_label_ctes`` recursive closure over the LSH pair SQL
    (one definition with the cluster-rollup oracles), joined with the
    classifier score relation (imported verbatim from text.py), same
    ROW_NUMBER total order."""
    from simple_query_engine_spark.operators.text import _CLASSIFIER_ORACLE_SQL

    near_sql = (
        "SELECT doc_id_a AS ida, doc_id_b AS idb\n"
        f"            FROM ({_minhash_oracle_sql()}) mh"
    )
    return f"""
        WITH RECURSIVE {_closure_label_ctes(near_sql)}, ranked AS (
            SELECT m.cluster_id, m.doc_id, s.score_micro,
                   ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                                      ORDER BY s.score_micro DESC, m.doc_id)
                       AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY m.cluster_id) AS BIGINT)
                       AS cluster_size
            FROM labels m
            JOIN (SELECT doc_id, score_micro
                  FROM ({_CLASSIFIER_ORACLE_SQL}) c) s USING (doc_id)
        )
        SELECT cluster_id, cluster_size,
               doc_id AS keep_doc_id,
               score_micro AS keep_score_micro,
               doc_id <> cluster_id AS keeper_not_min_id
        FROM ranked WHERE rn = 1
    """


PAGERANK_ITERATIONS = 5
PAGERANK_UNIT = 1_000_000  # rank carried in integer micro-units
PAGERANK_DAMP_NUM, PAGERANK_DAMP_DEN = 85, 100  # damping 0.85, exact
# (1 - d) · UNIT — ONE definition shared by the operator and its oracle so
# a damping change can never desynchronize them.
PAGERANK_BASE = PAGERANK_UNIT * (PAGERANK_DAMP_DEN - PAGERANK_DAMP_NUM) // PAGERANK_DAMP_DEN


def _neardup_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus near-dup pair list, session-cached ONCE for the whole
    graph-analysis family: clusters/pagerank/label-spread/triangles/k-core
    all derive their edge lists from it, so the banded join is evaluated
    once per session rather than once per entry; dedup_minhash_lsh ITSELF
    stays uncached (the bench's warm number for it keeps measuring the
    pair computation)."""
    return session_cache(
        q_dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b"),
        sf_dir,
        "neardup_graph_pairs",
    )


def q_graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH near-dup graph — the
    keeper-selection refinement beyond ``dedup_clusters``: within a
    near-dup cluster, the highest-centrality document is the canonical
    copy (most near-duplicates orbit it), where min-doc_id keeps an
    arbitrary one.

    Iterative-algorithm determinism, the hard part: float PageRank sums
    contributions in partition order and can never hash-match another
    engine.  Here rank lives in integer MICRO-UNITS — each node starts at
    10⁶, per-iteration contribution is ``rank div degree`` (floor), and
    damping is ``(sum · 85) div 100`` — every operation is exact int64
    arithmetic, order-free under addition, so a FIXED iteration count
    (5) is bit-identical across engines and the DuckDB oracle simply
    unrolls the five steps as chained CTEs.  (Floored division leaks
    remainder mass — deterministically, identically, on both engines;
    ranking order is what the operator is for, not probability mass.)

    Scale shape: PageRank here adds the constant ``PAGERANK_BASE``
    rather than a 1/N teleport term, so a node's rank depends only on
    its connected component.  :func:`_pagerank_solver` runs through
    :func:`_solve_graph`: once on the driver over a bounded graph, or
    once per component in a grouped map over an over-cap one — no
    per-iteration shuffle either way."""
    edges = _symmetric_edges(_neardup_pairs_cached(spark, sf_dir))
    return _solve_graph(edges, _pagerank_solver, "degree bigint, rank_e6 bigint")


def _pagerank_solver(edges: pd.DataFrame) -> pd.DataFrame:
    """Exact-integer PageRank over a symmetric ``(src, dst)`` edge frame:
    integer micro-units, floored division, order-free int sums (Python
    ints only widen; int64 never overflows here or the oracle comparison
    would already fail)."""
    src, dst = edges["src"].tolist(), edges["dst"].tolist()
    deg = Counter(src)
    rank = dict.fromkeys(deg, PAGERANK_UNIT)
    for _ in range(PAGERANK_ITERATIONS):
        contrib: dict = defaultdict(int)
        for s, d in zip(src, dst):
            # Spark's and DuckDB's integer division truncate; on the
            # always-positive ranks that IS floor division, Python's //.
            contrib[d] += rank[s] // deg[s]
        rank = {
            n: PAGERANK_BASE + (contrib[n] * PAGERANK_DAMP_NUM) // PAGERANK_DAMP_DEN
            for n in deg
        }
    return pd.DataFrame(
        {
            "doc_id": list(deg),
            "degree": list(deg.values()),
            "rank_e6": list(rank.values()),
        }
    )


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-iteration twin: it1..itN chained CTEs, the same
    integer micro-unit arithmetic (BIGINT // floors exactly like Spark's
    ``div``; SUM widens to HUGEINT so every sum is cast back)."""
    base = PAGERANK_BASE
    steps = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERATIONS + 1):
        steps.append(f"""it{i} AS (
            SELECT d.src AS node,
                   {base} + (CAST(COALESCE(s.contrib, 0) AS BIGINT)
                             * {PAGERANK_DAMP_NUM}) // {PAGERANK_DAMP_DEN} AS rank
            FROM deg d LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.rank // e.out_deg) AS BIGINT) AS contrib
                FROM edges_deg e JOIN {prev} r ON e.src = r.node
                GROUP BY e.dst
            ) s ON d.src = s.dst
        )""")
        prev = f"it{i}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH near AS MATERIALIZED ({_minhash_oracle_sql()}),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM near
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM near
        ), deg AS MATERIALIZED (
            SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src
        ), edges_deg AS MATERIALIZED (
            SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d USING (src)
        ), r0 AS (
            SELECT src AS node, CAST({PAGERANK_UNIT} AS BIGINT) AS rank FROM deg
        ),
        {chain}
        SELECT r.node AS doc_id, d.out_deg AS degree, r.rank AS rank_e6
        FROM {prev} r JOIN deg d ON r.node = d.src
    """


LABEL_SEED_MOD = 3  # every 3rd doc_id is a labeled seed
LABEL_SPREAD_ROUNDS = 3  # fixed synchronous frontier rounds


def q_graph_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised LABEL SPREADING over the MinHash-LSH near-dup
    graph: seed nodes (doc_id % {LABEL_SEED_MOD} == 0) carry their
    ``source`` as a trusted label; for {LABEL_SPREAD_ROUNDS} fixed
    synchronous rounds, every still-unlabeled node adjacent to the
    labeled set adopts the MAJORITY label among its labeled neighbors
    (count desc, label asc — a total order, so the adoption is
    engine-exact).  This is the propagate-human-judgments step of a
    curation pipeline: a reviewed quality/topic/provenance label on one
    copy extends to its near-duplicates without re-reviewing them, with
    ``labeled_round`` recording the trust distance from a seed (0 =
    reviewed directly).

    Determinism on an iterative algorithm, same discipline as
    ``graph_pagerank_neardup``: fixed round count, integer counts, total
    tie order — so the DuckDB oracle simply unrolls the rounds as
    chained CTEs.  Seeds never relabel; rounds are synchronous (the
    frontier sees the PREVIOUS cumulative labeled set).

    Scale shape: a node's label depends only on the seeds in its
    connected component.  Seed sources join onto the symmetric edge list
    on the executors (``is_seed``/``seed_label`` on each edge's ``src``),
    and :func:`_label_spread_solver` runs through :func:`_solve_graph`:
    once on the driver over a bounded graph, or once per component in a
    grouped map over an over-cap one."""
    seeds = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % LABEL_SEED_MOD == 0)
        .select(
            F.col("doc_id").alias("src"),
            F.col("source").alias("seed_label"),
            F.lit(True).alias("is_seed"),
        )
    )
    edges = (
        _symmetric_edges(_neardup_pairs_cached(spark, sf_dir))
        .join(seeds, "src", "left")
        .na.fill(False, ["is_seed"])
    )
    return _solve_graph(edges, _label_spread_solver, "label string, labeled_round int")


def _vote_order(vote: tuple) -> tuple:
    """Majority-pick sort key for a ``(label, count)`` vote: count desc,
    then label asc with NULL first — Spark's ascending default, spelled
    out because Python cannot compare None with a string."""
    label, count = vote
    return (-count, label is not None, label or "")


def _label_spread_solver(edges: pd.DataFrame) -> pd.DataFrame:
    """Synchronous label spreading over a symmetric ``(src, dst,
    seed_label, is_seed)`` edge frame: seeds keep their label at round 0;
    each round every unlabeled neighbor of the PREVIOUS labeled set adopts
    its majority label (:func:`_vote_order`)."""
    src, dst = edges["src"].tolist(), edges["dst"].tolist()
    labeled = {
        s: (label, 0)
        for s, label, seed in zip(
            src, edges["seed_label"].tolist(), edges["is_seed"].tolist()
        )
        if seed
    }
    for rnd in range(1, LABEL_SPREAD_ROUNDS + 1):
        votes: dict = defaultdict(Counter)
        for s, d in zip(src, dst):
            if s in labeled and d not in labeled:
                votes[d][labeled[s][0]] += 1
        labeled.update(
            (d, (min(v.items(), key=_vote_order)[0], rnd)) for d, v in votes.items()
        )
    return pd.DataFrame(
        {
            "doc_id": list(labeled),
            "label": [lab for lab, _ in labeled.values()],
            "labeled_round": [rnd for _, rnd in labeled.values()],
        }
    )


def _label_spread_oracle_sql() -> str:
    """Unrolled fixed-round twin of q_graph_label_spread: cumulative
    labeled-set CTEs all0..allN, majority pick via the same
    (count desc, label asc NULLS FIRST) total order as the solver's
    :func:`_vote_order` — spelled out because DuckDB defaults to NULLS
    LAST."""
    steps = []
    prev = "all0"
    for r in range(1, LABEL_SPREAD_ROUNDS + 1):
        steps.append(f"""new{r} AS (
            SELECT node, label, {r} AS labeled_round FROM (
                SELECT e.dst AS node, l.label, COUNT(*) AS c,
                       ROW_NUMBER() OVER (PARTITION BY e.dst
                                          ORDER BY COUNT(*) DESC,
                                                   l.label NULLS FIRST) AS rn
                FROM edges e
                JOIN {prev} l ON e.src = l.node
                WHERE e.dst NOT IN (SELECT node FROM {prev})
                GROUP BY e.dst, l.label
            ) WHERE rn = 1
        ), all{r} AS (
            SELECT * FROM {prev} UNION ALL SELECT * FROM new{r}
        )""")
        prev = f"all{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH near AS MATERIALIZED ({_minhash_oracle_sql()}),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM near
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM near
        ), all0 AS (
            SELECT n.node, d.source AS label, 0 AS labeled_round FROM (
                SELECT DISTINCT src AS node FROM edges
            ) n JOIN documents d ON d.doc_id = n.node
            WHERE n.node % {LABEL_SEED_MOD} = 0
        ),
        {chain}
        SELECT node AS doc_id, label, CAST(labeled_round AS INT) AS labeled_round
        FROM {prev}
    """


def q_graph_triangles_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the MinHash-LSH
    near-dup graph — the graph-density companion of
    ``graph_pagerank_neardup``: a high clustering coefficient marks tight
    template families (every near-dup of mine is also a near-dup of each
    other — boilerplate), low marks chain-shaped drift (a ⇔ b ⇔ c
    rewrites), which changes what a curator keeps.

    Algorithm: degree-ordered edge orientation (each undirected edge
    points from the (degree, id)-smaller endpoint), so every triangle is
    counted exactly once at its orientation-minimal apex and — the scale
    point — wedge fan-out is bounded by OUT-degree under the degree
    order, the standard O(m^1.5) triangle-count discipline that keeps a
    power-law hub from exploding the join (its edges all point INTO it).
    Exactness: counts are integers; the clustering coefficient is one
    float division of exact ints per node.

    Shape: the wedge join and the closing-edge join are equi-joins on the
    small oriented-edge table (cached — it feeds three plan branches);
    per-node rollup is map-side combined.
    """
    pairs = _neardup_pairs_cached(spark, sf_dir)
    edges = _symmetric_edges(pairs)
    deg = session_cache(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
        sf_dir,
        "tri_deg",
    )
    und = (
        pairs.join(
            deg.select(F.col("src").alias("doc_id_a"), F.col("deg").alias("deg_a")),
            "doc_id_a",
        ).join(
            deg.select(F.col("src").alias("doc_id_b"), F.col("deg").alias("deg_b")),
            "doc_id_b",
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_id_a") < F.col("doc_id_b"))
    )
    oriented = session_cache(
        und.select(
            F.when(a_first, F.col("doc_id_a")).otherwise(F.col("doc_id_b")).alias("u"),
            F.when(a_first, F.col("doc_id_b")).otherwise(F.col("doc_id_a")).alias("v"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
        ),
        sf_dir,
        "tri_oriented",
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("deg_v").alias("dv1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("deg_v").alias("dv2"))
    wedges = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select(
        F.col("u").alias("n1"), F.col("v1").alias("n2"), F.col("v2").alias("n3")
    )
    tri_nodes = (
        tri.select(
            F.explode(F.array(F.col("n1"), F.col("n2"), F.col("n3"))).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        deg.select(F.col("src").alias("doc_id"), F.col("deg").alias("degree"))
        .join(tri_nodes, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )
    return out.select(
        "doc_id",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                (2 * F.col("n_triangles"))
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def _triangles_oracle_sql() -> str:
    """Same degree-ordered orientation over the shared MinHash pair SQL."""
    return f"""
        WITH near AS MATERIALIZED ({_minhash_oracle_sql()}),
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM near
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM near
        ), deg AS MATERIALIZED (
            SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
        ), und AS (
            SELECT n.doc_id_a, n.doc_id_b, da.deg AS deg_a, db.deg AS deg_b,
                   (da.deg < db.deg
                    OR (da.deg = db.deg AND n.doc_id_a < n.doc_id_b)) AS a_first
            FROM near n
            JOIN deg da ON da.src = n.doc_id_a
            JOIN deg db ON db.src = n.doc_id_b
        ), oriented AS MATERIALIZED (
            SELECT CASE WHEN a_first THEN doc_id_a ELSE doc_id_b END AS u,
                   CASE WHEN a_first THEN doc_id_b ELSE doc_id_a END AS v,
                   CASE WHEN a_first THEN deg_b ELSE deg_a END AS deg_v
            FROM und
        ), tri AS (
            SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
            FROM oriented e1
            JOIN oriented e2 ON e1.u = e2.u
                 AND (e1.deg_v < e2.deg_v
                      OR (e1.deg_v = e2.deg_v AND e1.v < e2.v))
            JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
        ), tn AS (
            SELECT node AS doc_id, COUNT(*) AS n_triangles FROM (
                SELECT n1 AS node FROM tri
                UNION ALL SELECT n2 FROM tri
                UNION ALL SELECT n3 FROM tri
            ) GROUP BY node
        )
        SELECT d.src AS doc_id, d.deg AS degree,
               COALESCE(t.n_triangles, 0) AS n_triangles,
               CASE WHEN d.deg >= 2
                    THEN ROUND((2 * COALESCE(t.n_triangles, 0))
                               / CAST(d.deg * (d.deg - 1) AS DOUBLE), 4)
                    ELSE 0.0 END AS clustering_coeff
        FROM deg d LEFT JOIN tn t ON t.doc_id = d.src
    """


def _cc_state_format() -> str:
    """Format tag for the persisted standing-cluster state, DERIVED from
    the actual label-pipeline parameters (ADVICE r15): the MinHash
    signature size and banding, the permutation table itself (covers the
    seed formula, not just its inputs), the shingle width, the DF cap,
    and the normalization expression.  Any change to any of them changes
    the tag and invalidates persisted cross-process state automatically —
    the r15 design needed a hand-bumped version string, and a forgotten
    bump would have served stale state silently.  The leading literal is
    the escape hatch for semantic changes the parameters can't see
    (e.g. the propagation contract; v3: a NULL text gets no signature)."""
    import hashlib

    basis = "|".join(
        str(x)
        for x in (
            "cc-v3",
            NUM_MINHASH,
            MINHASH_BANDS,
            MAX_SHINGLE_DF,
            _SHINGLE_WIDTH,
            _NORM,
            _MINHASH_PARAMS,
        )
    )
    return hashlib.sha256(basis.encode()).hexdigest()[:12]


_CC_STATE_FORMAT = _cc_state_format()


def _standing_labels_managed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-components STANDING state (doc_id → cluster label
    over the corpus-only pair graph) as a persisted MANAGED table —
    VERDICT r14 item 4: production maintains this state across ingest
    batches instead of rebuilding it per run, and the managed-table layer
    (snapshot versions, time travel, txn map) is exactly the right home
    for it: a batch-merge becomes a ``merge`` commit, a bad batch rolls
    back with ``restore``, and auditing a dedup decision reads the state
    as of the batch that made it.

    The table is a staged copy (``storage.staged_path``) of the corpus,
    tagged with the threshold and a format tag.  First build computes
    the labels and commits them as version 0; every later run — including
    a fresh process — reads the committed snapshot and skips the
    corpus-wide banding + propagation.  It is created in place, not
    renamed into place (manifests record absolute file paths): a
    concurrent-create race is resolved by the manifest link — the loser's
    data files are unreferenced litter (the managed layer's vacuum
    discipline) and it reads the winner's commit."""
    from simple_query_engine_spark.operators.storage import staged_path
    from simple_query_engine_spark.sources.managed import (
        ManagedTable,
        TableVersionConflict,
    )

    path = staged_path(
        spark,
        sf_dir,
        ("documents",),
        "cc_standing",
        tag=f"{int(PLANTED_JACCARD_THRESHOLD * 1000)}_{_CC_STATE_FORMAT}",
    )
    t = ManagedTable(spark, path)
    if not t.versions():
        sig = _planted_sig(spark, sf_dir)
        corpus_sig = sig.filter(F.col("doc_id") < PLANT_DOC_OFFSET)
        standing_pairs = _minhash_lsh_pairs(
            corpus_sig, PLANTED_JACCARD_THRESHOLD
        ).select("doc_id_a", "doc_id_b")
        std_labels, _ = _propagate_labels(_symmetric_edges(standing_pairs))
        try:
            ManagedTable.create(spark, path, std_labels)
        except (ValueError, TableVersionConflict):
            pass  # lost a concurrent-create race; the winner's state stands
    return ManagedTable(spark, path).read()


def q_graph_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components: the near-dup cluster table is
    maintained under an arriving batch WITHOUT re-running components over
    the corpus — the graph-maintenance step a continuous-ingestion dedup
    pipeline runs after ``dedup_incremental_minhash`` hands it the new
    edges.  Standing clusters (corpus-only pairs at the production
    threshold) collapse to their label nodes; the delta edges (batch ↔
    corpus from the incremental banded join, plus batch-internal pairs)
    are REWRITTEN through those labels, and the second propagation runs
    over that reduced graph — whose size is ∝ the batch, never the
    corpus.  A batch edge that bridges two standing clusters merges them
    by merging their two label nodes; min-label composition keeps the
    global min (batch ids sit above PLANT_DOC_OFFSET, so merged clusters
    keep their corpus-born survivor).  The result is value-identical to
    recomputing components over the full pair graph — which is exactly
    what the oracle (recursive closure over ALL planted pairs) and the
    model test assert — while the incremental plan touches
    O(|standing labels| + |batch edges|) rows after the one-time
    standing build.

    Scale shape: the standing label table is the PERSISTED state — a
    managed table (``_standing_labels_managed``, r15) built once per
    corpus and read as a committed snapshot by every later run, so the
    per-batch plan never pays the corpus-wide banding + propagation
    again (a fresh session, or the bench re-running the entry, reads
    the snapshot); per batch the work is the two banded candidate joins
    (∝ batch bands), two label lookups, and a pointer-doubling
    propagation over the reduced graph whose node set is ≤ 2·|delta
    edges|.  Cost bounds pinned in tests."""
    std_labels = _standing_labels_managed(spark, sf_dir)
    sig = _planted_sig(spark, sf_dir)
    batch_sig = sig.filter(F.col("doc_id") >= PLANT_DOC_OFFSET)
    # One bounded evaluation of the banded pipeline: the delta feeds the
    # label rewrite, the propagation probe AND the node derivation below
    # (see _localize_bounded_pairs).
    delta = _localize_bounded_pairs(
        q_dedup_incremental_minhash(spark, sf_dir)
        .select(
            F.col("new_doc_id").alias("doc_id_a"),
            F.col("corpus_doc_id").alias("doc_id_b"),
        )
        .union(
            _minhash_lsh_pairs(batch_sig, PLANTED_JACCARD_THRESHOLD).select(
                "doc_id_a", "doc_id_b"
            )
        )
    )
    lbl_a = std_labels.select(
        F.col("doc_id").alias("doc_id_a"), F.col("label").alias("la")
    )
    lbl_b = std_labels.select(
        F.col("doc_id").alias("doc_id_b"), F.col("label").alias("lb")
    )
    reduced_pairs = (
        delta.join(lbl_a, "doc_id_a", "left")
        .join(lbl_b, "doc_id_b", "left")
        .select(
            F.coalesce("la", F.col("doc_id_a")).alias("doc_id_a"),
            F.coalesce("lb", F.col("doc_id_b")).alias("doc_id_b"),
        )
    )
    reduced_edges = _symmetric_edges(reduced_pairs)
    reduced_labels, _ = _propagate_labels(reduced_edges)
    rl = reduced_labels.select(
        F.col("doc_id").alias("base_label"), F.col("label").alias("rlabel")
    )
    delta_nodes = (
        delta.select(F.col("doc_id_a").alias("doc_id"))
        .union(delta.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    all_nodes = std_labels.select("doc_id").union(delta_nodes).distinct()
    base = all_nodes.join(std_labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("base_label")
    )
    final = base.join(rl, "base_label", "left").select(
        "doc_id", F.coalesce("rlabel", F.col("base_label")).alias("label")
    )
    return (
        final.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .withColumnRenamed("label", "cluster_id")
    )


# k-core peeling: K is the degree bar, KCORE_ROUNDS the FIXED number of
# synchronized peel rounds (the graph-family fixed-iteration discipline —
# both engines run exactly R rounds, so results are engine-identical even
# on graphs whose peel depth exceeds R; fixpoint at the test SFs is
# asserted in tests/test_dedup.py by running one extra round).
KCORE_K = 2
KCORE_ROUNDS = 6


def q_graph_kcore_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core decomposition of the MinHash-LSH near-dup graph by
    synchronized peeling — the third member of the dup-graph analysis
    family (PageRank ranks canonical copies, triangles measure local
    density, the k-core separates STRUCTURAL duplication — documents
    embedded in cycles/cliques of mutual near-dups, e.g. template farms —
    from incidental pairwise matches, which all peel).  ``peel_round`` is
    the synchronized round that removed the document (1-based); 0 means it
    survived all {KCORE_ROUNDS} rounds and sits in the (K, R)-core, with
    ``core_degree`` its degree inside the surviving subgraph.

    Determinism: peeling is pure set arithmetic — no floats, no ordering,
    no ties — so a FIXED round count is bit-identical across engines and
    the DuckDB oracle simply unrolls the rounds as chained CTEs (the
    ``graph_pagerank_neardup`` pattern).  Exact coreness would iterate to
    a data-dependent fixpoint; the fixed-R form is declared, and the model
    test asserts round {KCORE_ROUNDS + 1} changes nothing at the test SFs.

    Scale shape: peeling never crosses a component boundary, so
    :func:`_kcore_solver` runs through :func:`_solve_graph`: once on the
    driver over a bounded graph, or once per component in a grouped map
    over an over-cap one — no per-round shuffle or scratch
    materialization either way."""
    edges = _symmetric_edges(_neardup_pairs_cached(spark, sf_dir))
    return _solve_graph(
        edges, _kcore_solver, "peel_round bigint, in_core bigint, core_degree bigint"
    )


def _kcore_solver(edges: pd.DataFrame) -> pd.DataFrame:
    """Synchronized k-core peeling over a symmetric ``(src, dst)`` edge
    frame — pure integer set arithmetic; degrees count edge rows inside
    the alive subgraph, as the oracle's per-round GROUP BY does.  A
    round-R survivor can end with core degree 0 (its supporting
    neighbors peeled in the same round); it still survived."""
    src, dst = edges["src"].tolist(), edges["dst"].tolist()
    alive = set(src)
    peel = dict.fromkeys(alive, 0)

    def alive_degrees() -> Counter:
        return Counter(s for s, d in zip(src, dst) if s in alive and d in alive)

    for r in range(1, KCORE_ROUNDS + 1):
        deg = alive_degrees()
        dropped = {n for n in alive if deg[n] < KCORE_K}
        peel.update(dict.fromkeys(dropped, r))
        alive -= dropped
    core_deg = alive_degrees()
    return pd.DataFrame(
        {
            "doc_id": list(peel),
            "peel_round": list(peel.values()),
            "in_core": [int(r == 0) for r in peel.values()],
            "core_degree": [core_deg[n] for n in peel],
        }
    )


def _kcore_oracle_sql() -> str:
    """Unrolled fixed-round peeling twin over the shared MinHash pair SQL:
    aliveᵢ₊₁ = nodes of aliveᵢ with ≥ K neighbors inside aliveᵢ; the
    peel round falls out of which alive set a node first drops from."""
    rounds = []
    prev = "a0"
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""a{i} AS MATERIALIZED (
            SELECT e.src AS node FROM edges e
            JOIN {prev} x ON e.src = x.node
            JOIN {prev} y ON e.dst = y.node
            GROUP BY e.src HAVING COUNT(*) >= {KCORE_K}
        )""")
        prev = f"a{i}"
    peel = " ".join(
        f"WHEN n.node NOT IN (SELECT node FROM a{i}) THEN {i}"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
        WITH near AS MATERIALIZED ({_minhash_oracle_sql()}),
        edges AS MATERIALIZED (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM near
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM near
        ), a0 AS MATERIALIZED (
            SELECT DISTINCT src AS node FROM edges
        ),
        {",".join(rounds)},
        fdeg AS (
            SELECT e.src AS node, COUNT(*) AS core_degree FROM edges e
            JOIN {prev} x ON e.src = x.node
            JOIN {prev} y ON e.dst = y.node
            GROUP BY e.src
        )
        SELECT n.node AS doc_id,
               CAST(CASE {peel} ELSE 0 END AS BIGINT) AS peel_round,
               CAST(CASE WHEN n.node IN (SELECT node FROM {prev})
                         THEN 1 ELSE 0 END AS BIGINT) AS in_core,
               CAST(COALESCE(f.core_degree, 0) AS BIGINT) AS core_degree
        FROM a0 n LEFT JOIN fdeg f ON f.node = n.node
    """


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_cdc_chunks": q_dedup_cdc_chunks,
    "dedup_keep_latest": q_dedup_keep_latest,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_lsh": q_dedup_clusters_lsh,
    "dedup_cluster_keeper_quality": q_dedup_cluster_keeper_quality,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_planted_minhash": q_dedup_planted_minhash,
    "dedup_incremental_minhash": q_dedup_incremental_minhash,
    "dedup_containment_planted": q_dedup_containment_planted,
    "dedup_simhash": q_dedup_simhash,
    "dedup_lsh_quality": q_dedup_lsh_quality,
    "graph_pagerank_neardup": q_graph_pagerank_neardup,
    "graph_triangles_neardup": q_graph_triangles_neardup,
    "graph_kcore_neardup": q_graph_kcore_neardup,
    "graph_components_incremental": q_graph_components_incremental,
    "graph_label_spread": q_graph_label_spread,
    "text_dup_ngram_coverage": q_dup_ngram_coverage,
}

# Shared oracle fragment: word-3-gram shingles with the same document-
# frequency cap the Spark side applies (``_cap_shingle_df``).  ``sh`` is
# the capped set every downstream CTE (sizes/pairs) reads; ``docs_sql`` is
# the (doc_id, text) relation (planted variants pass a derived union).
def _sh_ctes(docs_sql: str = "documents") -> str:
    return f"""docs AS (
            SELECT doc_id, string_split({_NORM}, ' ') w FROM {docs_sql}
        ), sh_all AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(w) >= 3
                     THEN list_transform(range(1, len(w)-1),
                                         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                     ELSE [array_to_string(w, ' ')] END)) AS shingle
            FROM docs
        ), hot AS (
            SELECT shingle FROM sh_all
            GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}
        ), sh AS (
            SELECT doc_id, shingle FROM sh_all
            WHERE shingle NOT IN (SELECT shingle FROM hot)
        )"""


_SH_CTES = _sh_ctes()


def _minhash_oracle_sql(
    docs_sql: str = "documents",
    threshold: float = JACCARD_THRESHOLD,
    incremental_offset: int | None = None,
    eval_max: int | None = None,
) -> str:
    """DuckDB oracle for the full MinHash-LSH pipeline, generated from the
    same permutation constants the Spark side uses (identical modular
    integer arithmetic → identical signatures, bands, and estimates).
    ``docs_sql`` is the (doc_id, text) relation to read — the planted-corpus
    variant passes a derived union here.  With ``incremental_offset``,
    candidates pair incoming docs (id ≥ offset) against corpus docs
    (id < offset) instead of the a < b self-join, mirroring the Spark
    incremental path.  With ``eval_max``, candidates pair corpus docs
    (id ≥ eval_max) against eval docs (id < eval_max) — the fuzzy
    decontamination split."""
    if eval_max is not None:
        pair_cond = f"a.doc_id >= {eval_max} AND b.doc_id < {eval_max}"
        col_a, col_b = "doc_id", "eval_doc_id"
    elif incremental_offset is None:
        pair_cond = "a.doc_id < b.doc_id"
        col_a, col_b = "doc_id_a", "doc_id_b"
    else:
        pair_cond = (
            f"a.doc_id >= {incremental_offset} AND b.doc_id < {incremental_offset}"
        )
        col_a, col_b = "new_doc_id", "corpus_doc_id"
    rows_per_band = NUM_MINHASH // MINHASH_BANDS
    min_exprs = ",\n                   ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {idx} AS band_idx, md5(concat_ws('|', {cols})) AS band_hash FROM sig".format(
            idx=band,
            cols=", ".join(
                f"m{band * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for band in range(MINHASH_BANDS)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_MINHASH)
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, string_split({_NORM}, ' ') w FROM {docs_sql}
        ), sh AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(w) >= 3
                     THEN list_transform(range(1, len(w)-1),
                                         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                     ELSE [array_to_string(w, ' ')] END)) AS shingle
            FROM docs
        ), hashed AS (
            SELECT doc_id,
                   {md5_prefix_long_sql("shingle", 15)} % {_MERSENNE_P} AS h
            FROM sh
        ), sig AS (
            SELECT doc_id,
                   {min_exprs}
            FROM hashed GROUP BY doc_id
        ), bands AS (
            {band_selects}
        ), candidates AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND {pair_cond}
        )
        SELECT ida AS {col_a}, idb AS {col_b},
               ROUND(({eq_sum}) / {NUM_MINHASH}.0, 4) AS est_jaccard
        FROM candidates
        JOIN sig sa ON ida = sa.doc_id
        JOIN sig sb ON idb = sb.doc_id
        WHERE ROUND(({eq_sum}) / {NUM_MINHASH}.0, 4) >= {threshold}
    """


# Oracle twin of ``_planted_documents``: same modulus, offset, and suffix.
_PLANTED_DOCS_SQL = f"""(
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {PLANT_DOC_OFFSET} AS doc_id,
                   text || ' {PLANT_SUFFIX}' AS text
            FROM documents WHERE doc_id % {PLANT_DOC_MOD} = 0
        )"""


def _closure_label_ctes(near_sql: str) -> str:
    """The recursive-closure CTE chain (near → edges → reach → per-node
    ``labels``) shared by the cluster-rollup oracle and the
    quality-keeper oracle — ONE definition of the component relation, so
    a closure change (e.g. the self-loop rows) can never desynchronize
    them."""
    return f"""near AS (
            {near_sql}
        ), edges AS (
            SELECT ida AS src, idb AS dst FROM near
            UNION SELECT idb, ida FROM near
            UNION SELECT ida, ida FROM near
            UNION SELECT idb, idb FROM near
        ), reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), labels AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
        )"""


def _closure_sql(near_sql: str, keep_col: str = "keep_doc_id") -> str:
    """DuckDB oracle for connected components over any (ida, idb) pair
    source: recursive transitive closure; a node's cluster id is the
    minimum node it can reach.  (The Spark side iterates label
    propagation — a different algorithm for the same relation, which is
    exactly what an oracle should be.)  ``keep_col`` names the survivor
    column — ``keep_vec_id`` for the embedding-graph reuse in
    ``similarity.q_sim_semantic_clusters``."""
    return f"""
        WITH RECURSIVE {_closure_label_ctes(near_sql)}
        SELECT cluster_id,
               COUNT(*) AS cluster_size,
               MIN(doc_id) AS {keep_col}
        FROM labels GROUP BY cluster_id
    """


def _simhash_oracle_sql() -> str:
    """DuckDB oracle for the SimHash pipeline: same md5-derived 60-bit
    token hash, 60 bit-vote sums, 5×12-bit chunk assembly, candidates on
    equal two-chunk pair keys, exact hamming via bit_count(xor)."""
    vote_exprs = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{bit}"
        for bit in range(SIMHASH_BITS)
    )
    chunk_exprs = ",\n                   ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{chunk * _CHUNK_BITS + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(_CHUNK_BITS)
        )
        + f") AS chunk{chunk}"
        for chunk in range(SIMHASH_CHUNKS)
    )
    pair_rows = "\n            UNION ALL ".join(
        f"SELECT doc_id, {p} AS pair_idx, chunk{i} AS val_i, chunk{j} AS val_j FROM sig"
        for p, (i, j) in enumerate(_CHUNK_PAIRS)
    )
    hamming = " + ".join(
        f"bit_count(xor(CAST(sa.chunk{c} AS BIGINT), CAST(sb.chunk{c} AS BIGINT)))"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
            FROM documents
        ), hashed AS (
            SELECT doc_id, {md5_prefix_long_sql("token", 15)} AS h
            FROM toks
        ), voted AS (
            SELECT doc_id,
                   {vote_exprs}
            FROM hashed GROUP BY doc_id
        ), sig AS (
            SELECT doc_id,
                   {chunk_exprs}
            FROM voted
        ), pair_rows AS (
            {pair_rows}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM pair_rows a JOIN pair_rows b
              ON a.pair_idx = b.pair_idx AND a.val_i = b.val_i
             AND a.val_j = b.val_j AND a.doc_id < b.doc_id
        )
        SELECT ida AS doc_id_a, idb AS doc_id_b,
               CAST({hamming} AS INT) AS hamming_distance
        FROM cand
        JOIN sig sa ON ida = sa.doc_id
        JOIN sig sb ON idb = sb.doc_id
        WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
    """


# Exact-Jaccard pair source for the closure oracle (same capped-shingle
# semantics as the Spark side).
_NGRAM_NEAR_SQL = f"""
            WITH {_SH_CTES}, sizes AS (
                SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
            ), pairs AS (
                SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT ida, idb FROM pairs
            JOIN sizes sa ON ida = sa.doc_id
            JOIN sizes sb ON idb = sb.doc_id
            WHERE ROUND(common * 1.0 / (sa.set_size + sb.set_size - common), 4)
                  >= {JACCARD_THRESHOLD}
"""

ORACLES = {
    "dedup_substring_spans": f"""
        WITH w AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
        ), occ AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(w[i:i+{DUP_SPAN_WORDS - 1}], ' ')) AS h
            FROM w, UNNEST(range(1, len(w) - {DUP_SPAN_WORDS} + 2)) AS t(i)
            WHERE len(w) >= {DUP_SPAN_WORDS}
        ), dup AS (
            SELECT h FROM (
                SELECT h, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY h
            ) WHERE nd >= 2
        ), fl AS (
            SELECT o.doc_id, o.pos,
                   o.h IN (SELECT h FROM dup) AS is_dup
            FROM occ o
        ), tot AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                       AS dup_spans
            FROM fl GROUP BY doc_id
        ), isl AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM fl WHERE is_dup
        ), runs AS (
            SELECT doc_id, grp, COUNT(*) AS run_len
            FROM isl GROUP BY doc_id, grp
        ), runagg AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
                   CAST(MAX(run_len) + {DUP_SPAN_WORDS - 1} AS BIGINT)
                       AS max_dup_words
            FROM runs GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(t.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(t.dup_spans, 0) AS BIGINT) AS dup_spans,
               CAST(COALESCE(r.n_runs, 0) AS BIGINT) AS n_runs,
               CAST(COALESCE(r.max_dup_words, 0) AS BIGINT) AS max_dup_words,
               CAST(CASE WHEN COALESCE(t.n_spans, 0) = 0 THEN 0
                         ELSE (t.dup_spans * 1000000) // t.n_spans
                    END AS BIGINT) AS dup_span_ppm
        FROM documents d
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN runagg r USING (doc_id)
    """,
    "dedup_minhash_lsh": _minhash_oracle_sql(),
    "dedup_planted_minhash": _minhash_oracle_sql(
        docs_sql=_PLANTED_DOCS_SQL, threshold=PLANTED_JACCARD_THRESHOLD
    ),
    "dedup_incremental_minhash": _minhash_oracle_sql(
        docs_sql=_PLANTED_DOCS_SQL,
        threshold=PLANTED_JACCARD_THRESHOLD,
        incremental_offset=PLANT_DOC_OFFSET,
    ),
    "dedup_containment_planted": f"""
        WITH {_sh_ctes(_PLANTED_DOCS_SQL)}, sizes AS (
            SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   COUNT(*) AS common_shingles
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b, common_shingles,
               ROUND(common_shingles * 1.0
                     / LEAST(sa.set_size, sb.set_size), 4) AS containment
        FROM pairs
        JOIN sizes sa ON doc_id_a = sa.doc_id
        JOIN sizes sb ON doc_id_b = sb.doc_id
        WHERE ROUND(common_shingles * 1.0
                    / LEAST(sa.set_size, sb.set_size), 4) >= {CONTAINMENT_THRESHOLD}
    """,
    "text_dup_ngram_coverage": f"""
        WITH docs AS (
            SELECT doc_id, string_split({_NORM}, ' ') w FROM documents
        ), sh_all AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(w) >= 3
                     THEN list_transform(range(1, len(w)-1),
                                         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                     ELSE [array_to_string(w, ' ')] END)) AS shingle
            FROM docs
        ), dfreq AS (
            SELECT shingle, COUNT(*) AS df FROM sh_all GROUP BY shingle
        )
        SELECT doc_id,
               COUNT(*) AS n_shingles,
               ROUND(AVG(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END), 4)
                   AS dup_coverage
        FROM sh_all JOIN dfreq USING (shingle)
        GROUP BY doc_id
    """,
    "dedup_clusters": _closure_sql(_NGRAM_NEAR_SQL),
    "dedup_clusters_lsh": _closure_sql(
        f"SELECT doc_id_a AS ida, doc_id_b AS idb FROM ({_minhash_oracle_sql()}) mh"
    ),
    "dedup_cluster_keeper_quality": _keeper_quality_oracle_sql(),
    "dedup_simhash": _simhash_oracle_sql(),
    # Same deterministic latest-per-key pick: (ts, event_id) DESC.
    "dedup_keep_latest": """
        SELECT user_id, event_type,
               CAST(epoch_us(ts) // 1000000 AS BIGINT) AS latest_epoch,
               CAST(ROUND(value * 100) AS BIGINT) AS latest_cents
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY md5(text)
    """,
    "dedup_ngram_jaccard": None,  # assigned below from _NGRAM_JACCARD_SQL
}

# Full exact-Jaccard pair query (with scores) — the ngram_jaccard oracle,
# also the exact side of the dedup_lsh_quality audit.
_NGRAM_JACCARD_SQL = f"""
        WITH {_SH_CTES}, sizes AS (
            SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   COUNT(*) AS common_shingles
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b, common_shingles,
               ROUND(common_shingles * 1.0
                     / (sa.set_size + sb.set_size - common_shingles), 4) AS jaccard
        FROM pairs
        JOIN sizes sa ON doc_id_a = sa.doc_id
        JOIN sizes sb ON doc_id_b = sb.doc_id
        WHERE ROUND(common_shingles * 1.0
                    / (sa.set_size + sb.set_size - common_shingles), 4) >= {JACCARD_THRESHOLD}
"""
ORACLES["dedup_ngram_jaccard"] = _NGRAM_JACCARD_SQL
ORACLES["graph_pagerank_neardup"] = _pagerank_oracle_sql()
ORACLES["graph_label_spread"] = _label_spread_oracle_sql()
ORACLES["graph_triangles_neardup"] = _triangles_oracle_sql()
ORACLES["graph_kcore_neardup"] = _kcore_oracle_sql()
ORACLES["dedup_cdc_chunks"] = _cdc_oracle_sql()
# Incremental components must equal the full recompute: closure over ALL
# planted pairs (corpus-corpus + batch-corpus + batch-batch) at the
# production threshold.
ORACLES["graph_components_incremental"] = _closure_sql(
    f"SELECT doc_id_a AS ida, doc_id_b AS idb FROM "
    f"({_minhash_oracle_sql(_PLANTED_DOCS_SQL, PLANTED_JACCARD_THRESHOLD)}) mh"
)

_LSH_QUALITY_ERR = "CAST(ROUND(ABS(est_jaccard - jaccard) * 10000, 0) AS BIGINT)"
ORACLES["dedup_lsh_quality"] = f"""
        WITH est AS ({_minhash_oracle_sql()}),
        exact AS ({_NGRAM_JACCARD_SQL}),
        joined AS (
            SELECT est_jaccard, jaccard,
                   (est_jaccard IS NOT NULL AND jaccard IS NOT NULL) AS matched
            FROM est FULL OUTER JOIN exact USING (doc_id_a, doc_id_b)
        ), agg AS (
            SELECT CAST(SUM(CASE WHEN est_jaccard IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_lsh_pairs,
                   CAST(SUM(CASE WHEN jaccard IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_exact_pairs,
                   CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_matched,
                   MAX(CASE WHEN matched THEN {_LSH_QUALITY_ERR} END)
                        AS max_abs_err_e4,
                   SUM(CASE WHEN matched THEN {_LSH_QUALITY_ERR} END)
                        AS sum_abs_err_e4
            FROM joined
        )
        SELECT n_lsh_pairs, n_exact_pairs, n_matched, max_abs_err_e4,
               ROUND(CAST(sum_abs_err_e4 AS DOUBLE) / n_matched / 10000.0, 6)
                   AS mean_abs_err
        FROM agg
"""
