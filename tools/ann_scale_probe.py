"""Measure the compressed-retrieval claim: brute-force vs SQ-rerank vs
PQ-rerank wall time as the vector corpus grows.

Builds a k×-amplified embeddings table (vec_id-shifted copies — query
vectors stay vec_id < NUM_QUERY_VECTORS, so the query set is fixed while
the corpus grows) in a staged sf_dir under the scratch root, then times
the three catalog retrieval paths warm (min of 3 passes).

Usage: python tools/ann_scale_probe.py [k] [sf_dir]
Prints one JSON line; append it to ANN_SCALE.json by hand or via the
round notes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.similarity import (
        NUM_QUERY_VECTORS,
        q_sim_pq_rerank,
        q_sim_sq_rerank,
        q_sim_topk_bruteforce,
    )
    from simple_query_engine_spark.operators.storage import (
        materialize_once,
        staged_path,
    )
    from simple_query_engine_spark.session import get_spark
    from simple_query_engine_spark.sources.catalog import table

    spark = get_spark(app_name="ann-scale-probe")
    base = table(spark, sf_dir, "embeddings")
    n_base = base.count()

    # Replica 0 keeps the original ids (and with them the query set);
    # replicas 1..k-1 shift vec_id far past the corpus so ids stay unique
    # and no replica vector enters the query set.
    stride = 1_000_000
    amplified = base.select("vec_id", "embedding", "label")
    for i in range(1, k):
        amplified = amplified.unionAll(
            base.filter(F.col("vec_id") >= NUM_QUERY_VECTORS).select(
                (F.col("vec_id") + stride * i).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    scratch = staged_path(spark, sf_dir, ("embeddings",), f"ann_scale_x{k}")
    os.makedirs(scratch, exist_ok=True)
    materialize_once(
        os.path.join(scratch, "embeddings.parquet"),
        lambda tmp: amplified.repartition(32).write.parquet(tmp),
    )

    def timed(fn) -> float:
        best = float("inf")
        for _ in range(3):
            start = time.time()
            fn(spark, scratch).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - start)
        return round(best, 3)

    result = {
        "k": k,
        "n_vectors": n_base + (k - 1) * (n_base - NUM_QUERY_VECTORS),
        "brute_sec": timed(q_sim_topk_bruteforce),
        "sq_rerank_sec": timed(q_sim_sq_rerank),
        "pq_rerank_sec": timed(q_sim_pq_rerank),
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
