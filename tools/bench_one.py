"""Per-entry timer: catalog queries, first invocation plus best-of-N warm runs.

Usage: python tools/bench_one.py <query_name>[,<query_name>...] [runs] [sf_dir]
       python tools/bench_one.py --suite headline|heavy|iterative|all [runs] [sf_dir]

``--amplify k`` (k > 1) times against the k×-amplified copy of the fact
tables (key-shifted replicas, tools/amplify_testdata.py), which lifts
per-query cost above the local job-scheduling floor.

Input tables are cached before timing, each run executes the whole plan
through the ``noop`` sink (``df.count()`` would let Catalyst prune
projections), and a JVM-side sum over 500M longs is timed after each
query as a host-speed calibration.  Prints one JSON line per query with
its first invocation (one-time codegen plus in-session materializations),
every warm run, the min, the min divided by the calibration, and the
calling thread's py4j round trips during the last warm run's query-function
call (``build_round_trips``, Python plan building); the last warm run's
formatted physical plan goes to stderr.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# One query per operator family: the reference-parity path, aggregation,
# joins, windows, text, dedup, vector search and the curation pipeline.
HEADLINE = [
    "parity_project_filter_combo",
    "agg_pricing_summary",
    "agg_count_distinct",
    "join_broadcast_dim",
    "join_large_revenue",
    "window_topn_per_group",
    "join_asof",
    "sort_topk",
    "date_funcs",
    "json_funcs",
    "window_tumbling_counts",
    "window_session_counts",
    "text_fingerprint",
    "text_word_freq",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "tpch_q3_shipping_priority",
    "pipeline_corpus_curation",
]

# The data-bound heavy operators outside the headline families, so a
# regression in any of them shows in a per-entry row.
HEAVY = [
    "dedup_substring_spans",
    "sim_semdedup",
    "text_quality_classifier",
    "pipeline_dsir_weights",
    "text_bm25_search",
    "sim_hybrid_retrieval",
    "sim_kmeans_train",
    "sim_ivf_trained_topk",
    "text_bpe_train",
    "pipeline_incremental_curation",
    "sim_pq_rerank",
    "dedup_keep_latest",
    "dml_zorder_skipping",
    "text_ngram_novelty",
    "sim_sq_rerank",
    "dedup_incremental_minhash",
    "dedup_containment_planted",
    "pipeline_pack_sequences",
    "events_quality_drift",
    "events_funnel_windowed",
    "text_unigram_surprisal",
    "text_repetition",
    "text_decontamination_bloom",
    "sample_topk",
    "dedup_lsh_quality",
    "sketch_countmin_words",
    "pipeline_token_quota",
    "stats_corpus_report",
    "text_gopher_quality",
    "sim_knn_density",
    "sim_multiprobe_lsh",
    "dedup_cluster_keeper_quality",
    "multimodal_ppm_decode",
    "sim_recall_floor_planted",
    "stream_ivf_ingest",
]

# Fixed-round iterative graph/cluster operators (and the streaming
# components entry): their wall time is rounds × the job-scheduling or
# commit floor, not a data term, so they are timed apart from HEAVY.
ITERATIVE = [
    "sim_semantic_clusters",
    "graph_pagerank_neardup",
    "graph_triangles_neardup",
    "graph_label_spread",
    "graph_components_incremental",
    "sim_ivf_rebuild",
    "stream_components_incremental",
]

SUITES = {
    "headline": HEADLINE,
    "heavy": HEAVY,
    "iterative": ITERATIVE,
    "all": HEADLINE + HEAVY + ITERATIVE,
}


def _take(args: list[str], flag: str) -> str | None:
    """Remove ``flag value`` from ``args`` and return the value."""
    if flag not in args:
        return None
    at = args.index(flag)
    value = args[at + 1]
    del args[at : at + 2]
    return value


def main() -> int:
    args = sys.argv[1:]
    suite = _take(args, "--suite")
    amplify = int(_take(args, "--amplify") or 1)
    names = SUITES[suite] if suite else args.pop(0).split(",")
    runs = int(args[0]) if args else 5
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    from simple_query_engine_spark.session import get_spark
    from simple_query_engine_spark.sources.catalog import load_tables
    from tools.round_trips import count_round_trips

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="sqe-bench-one")
    queries = entrymod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1
    data_dir = sf_dir
    if amplify > 1:
        from tools.amplify_testdata import ensure_amplified

        data_dir = ensure_amplified(spark, sf_dir, amplify)
    for df in load_tables(spark, data_dir).values():
        df.cache().count()

    def run(name: str):
        """Time one invocation; return its seconds, the DataFrame it ran
        and the py4j round trips of the query-function call."""
        start = time.time()
        with count_round_trips() as calls:
            df = queries[name](spark, data_dir)
        df.write.mode("overwrite").format("noop").save()
        return round(time.time() - start, 3), df, len(calls)

    probe = lambda: spark.range(500_000_000, numPartitions=32).selectExpr(
        "sum(id * 2)"
    ).collect()
    probe()  # codegen warm-up

    for name in names:
        first, df, _ = run(name)
        times = []
        for _ in range(runs):
            seconds, df, build_round_trips = run(name)
            times.append(seconds)
        start = time.time()
        probe()
        calibration = round(time.time() - start, 3)
        # Explain the last timed run's DataFrame: a fresh invocation would
        # run a stream entry's whole stream again, untimed.
        with contextlib.redirect_stdout(sys.stderr):
            df.explain("formatted")
        print(
            json.dumps(
                {
                    "query": name,
                    "first_invocation": first,
                    "runs": times,
                    "min": min(times),
                    "calibration_jvm_sum_sec": calibration,
                    "min_normalized": round(min(times) / calibration, 2),
                    "build_round_trips": build_round_trips,
                    "sf_dir": sf_dir,
                    "amplify": amplify,
                }
            ),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
