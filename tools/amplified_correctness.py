"""Correctness at 32× scale: the DuckDB oracle over AMPLIFIED fact tables.

VERDICT r13 item 3: the per-round driver gate tops out at sf0.01 and the
local sweep at sf0.1 — scale evidence was bench-only.  This gate runs the
heaviest FACT-TABLE-bound catalog entries against the k×-amplified copy of
sf0.1 (tools/amplify_testdata.py — key-shifted replicas, FK-intact and
deterministic per tests/test_amplify.py, so every oracle applies
UNCHANGED) and hash-compares exactly like tools/check_correctness.py.

Two modes, two amplifiers, two gates:

- default (fact mode): fact tables amplify by key-shifted replicas;
  documents/embeddings copy as-is (replicating identical texts/vectors
  would manufacture k² near-dup pairs no real corpus has) — gates
  AMPLIFIED_GATE, writes AMPLIFIED_CORRECTNESS.json.
- ``--corpus``: documents amplify by token-retagged replicas (replicas
  share no shingles — dup/near-dup structure grows ×k like k new
  domains, never k²) and embeddings by per-replica rotation; facts copy
  as-is — gates CORPUS_GATE (the dedup/text/sim/multimodal heavies whose
  input is the corpus), writes AMPLIFIED_CORPUS_CORRECTNESS.json.

Both hash-compare Spark vs the DuckDB oracle over the SAME amplified
parquet, exactly like tools/check_correctness.py.

PER-ENTRY CACHE ISOLATION (VERDICT r15 item 3): every entry starts from
a cold executor cache — ``evict_all()`` (the session-cache registry) +
``spark.catalog.clearCache()`` run before the timer — so the in-gate
second count tracks the isolated single-entry number instead of
inheriting cache churn from ~20 prior entries sharing one JVM (r15
measured sim_knn_density 124 s in-gate vs 51 s isolated purely from
that churn).  A real regression can no longer hide inside "cache
churn", and a cache-crowding speedup can no longer flatter an entry.
Disk-backed state (materialize_once scratch, managed standing
snapshots) is untouched — only executor-memory caching is reset.

SPLIT TIMING (r16): each verdict records ``spark_sec`` and
``oracle_sec`` separately — the r16 measurements showed several heavy
walls are DUCKDB-ORACLE-dominated (sim_knn_density at 8×: spark ~39 s
+ oracle ~64 s; sim_recall_floor_planted: spark ~22 s + oracle ~143 s),
so engine-scaling claims must read ``spark_sec``, not ``sec``.  With
the cache isolation in place the residual in-gate vs isolated delta is
BIDIRECTIONAL (an in-gate entry rides a JIT-warm JVM and can be 2×
FASTER than a fresh-process isolated run; host phase swings ±3×
dwarf both) — the r15 systematic in-gate penalty is gone, and that,
not a fixed percentage, is the invariant this isolation guarantees.

Usage: python tools/amplified_correctness.py [--corpus] [sf_dir] [k] [name_filter...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tools.check_correctness import compare, compare_types, register_views


def _naive_utc(rows: list[tuple]) -> list[tuple]:
    """Strip tz-awareness after converting to UTC.

    The driver's testdata stores TIMESTAMP(NANOS) (tz-naive in DuckDB),
    but the amplified copy is SPARK-written parquet whose timestamps are
    marked isAdjustedToUTC — DuckDB then returns tz-aware datetimes while
    Spark returns naive ones (session TZ is UTC, session.py).  Same
    instant, different repr; normalize both sides before comparing."""
    import datetime

    def fix(v):
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v

    return [tuple(fix(v) for v in row) for row in rows]

# The heaviest entries whose inputs actually GROW under amplification —
# scans, shuffles, joins, windows, and DML over lineitem / orders /
# customer / part / supplier / events.
AMPLIFIED_GATE = [
    "agg_pricing_summary",
    "agg_count_distinct",
    "agg_rollup",
    "join_broadcast_dim",
    "join_large_revenue",
    "join_multiway",
    "join_salted_skew",
    "join_asof",
    "window_topn_per_group",
    "window_running_sum",
    "window_session_counts",
    "window_tumbling_counts",
    "sort_topk",
    "subquery_above_avg",
    "tpch_q3_shipping_priority",
    "events_sessionize_gap",
    "events_funnel_windowed",
    "events_quality_drift",
    "dml_zorder_skipping",
    "dml_merge_upsert",
]

# Corpus-bound heavies: scans, shuffles, LSH banding, postings joins,
# vector math over documents/embeddings — the inputs that actually GROW
# under --corpus amplification.  Absolute-doc-id conventions (eval bands,
# query-vector slices) select replica 0 by construction (REPLICA_OFFSET).
CORPUS_GATE = [
    "dedup_exact",
    "dedup_keep_latest",
    "dedup_minhash_lsh",
    "dedup_lsh_quality",
    # NOT dedup_incremental_minhash / dedup_containment_planted: their
    # planted ids are doc_id + PLANT_DOC_OFFSET (1e6) and their collision
    # guard (correctly) rejects amplified ids >= the offset; the LSH
    # machinery they share is gated via the two entries above.
    "dedup_substring_spans",
    "text_bm25_search",
    "text_bpe_train",
    "text_gopher_quality",
    "text_unigram_surprisal",
    "text_decontamination_bloom",
    "text_word_freq",
    "text_fingerprint",
    "pipeline_corpus_curation",
    "pipeline_token_quota",
    "sketch_countmin_words",
    "sim_topk_bruteforce",
    "sim_semdedup",
    "sim_ivf_topk",
    "sim_knn_density",
    "sim_recall_floor_planted",
    "multimodal_clip_pairs",
    # The streaming ingest door over the amplified corpus: digest-keyed
    # manifest state, postings state, and the decontamination pair state
    # must grow x k with the corpus and still equal the batch oracle.
    "stream_clip_ingest",
    # The vector-index door: 4 managed append commits over the x k
    # embedding stream must reproduce the batch append + search exactly.
    "stream_ivf_ingest",
    "stream_bm25_postings",
    "stream_mixture_sample",
    "stream_decontamination",
    # The pointer-doubling components path over the x k near-dup graph:
    # LSH pair edges, fixed-round label propagation, and the
    # quality-scored keeper pick must stay hash-exact as the graph grows.
    "dedup_clusters_lsh",
    "dedup_cluster_keeper_quality",
    # The graph solvers over the same x k near-dup graph: driver-side
    # below the edge cap, per component above it.
    "graph_pagerank_neardup",
    "graph_kcore_neardup",
    "graph_label_spread",
]


def main() -> int:
    args = sys.argv[1:]
    corpus = "--corpus" in args
    if corpus:
        args = [a for a in args if a != "--corpus"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    k = int(args[1]) if len(args) > 1 else (8 if corpus else 32)
    name_filter = args[2:]
    gate = CORPUS_GATE if corpus else AMPLIFIED_GATE
    out_name = (
        "AMPLIFIED_CORPUS_CORRECTNESS.json" if corpus else "AMPLIFIED_CORRECTNESS.json"
    )
    # Non-default scales (e.g. the 64x stretch point) get their own artifact
    # instead of clobbering the canonical per-round gate file.
    if k != (8 if corpus else 32):
        out_name = out_name.replace(".json", f"_{k}x.json")

    import __spark_entry__ as entrymod
    from simple_query_engine_spark.session import get_spark
    from tools.amplify_testdata import ensure_amplified

    spark = get_spark(app_name="amplified-correctness")
    amp_dir = ensure_amplified(spark, sf_dir, k, corpus=corpus)

    con = duckdb.connect()
    register_views(con, amp_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    verdicts: dict[str, dict] = {}
    n_fail = 0
    for name in gate:
        if name_filter and not any(f in name for f in name_filter):
            continue
        verdict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "sec": None,
            "spark_sec": None,
            "oracle_sec": None,
        }
        verdicts[name] = verdict
        # Cold-cache start (see module docstring): gate time ≈ isolated time.
        from simple_query_engine_spark.functions.caching import evict_all

        evict_all()
        spark.catalog.clearCache()
        start = time.time()
        try:
            result = queries[name](spark, amp_dir)
            spark_cols = result.columns
            spark_rows = [tuple(r) for r in result.collect()]
            verdict["spark_rows"] = len(spark_rows)
        except Exception as error:
            verdict["err"] = f"SPARK ERROR: {str(error)[:300]}"
            n_fail += 1
            print(f"FAIL  {name}: {verdict['err']}")
            continue
        verdict["spark_sec"] = round(time.time() - start, 2)
        oracle_start = time.time()
        try:
            duck = con.sql(oracles[name])
            duck_cols = list(duck.columns)
            duck_types = list(duck.types)
            duck_rows = duck.fetchall()
            verdict["oracle_rows"] = len(duck_rows)
        except Exception as error:
            verdict["err"] = f"DUCKDB ERROR: {str(error)[:300]}"
            n_fail += 1
            print(f"FAIL  {name}: {verdict['err']}")
            continue
        verdict["oracle_sec"] = round(time.time() - oracle_start, 2)
        verdict["sec"] = round(time.time() - start, 2)
        verdict["rows_match"] = len(spark_rows) == len(duck_rows)
        verdict["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
        problem = compare_types(result.schema, duck_cols, duck_types) or compare(
            _naive_utc(spark_rows), _naive_utc(duck_rows), spark_cols, duck_cols
        )
        if problem:
            verdict["err"] = problem[:300]
            n_fail += 1
            print(f"FAIL  {name}: {problem[:200]}")
        else:
            verdict["hash_match"] = True
            print(
                f"ok    {name}: {len(spark_rows)} rows at {k}x  "
                f"({verdict['sec']}s = spark {verdict['spark_sec']}"
                f" + oracle {verdict['oracle_sec']})"
            )

    n_ok = sum(1 for v in verdicts.values() if v["hash_match"])
    print(f"\n{n_ok} ok, {n_fail} failed at {k}x amplification")
    if not name_filter:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        payload = {
            "_meta": {
                "sf_dir": sf_dir,
                "amplify": k,
                "mode": "corpus" if corpus else "fact",
                "entries": len(verdicts),
                "ok": n_ok,
            },
            **verdicts,
        }
        out = os.path.join(repo, out_name)
        with open(out, "w") as fh:
            json.dump(payload, fh, indent=1)
        print(f"wrote {out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
