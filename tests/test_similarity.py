"""Similarity-search tests: exact top-k invariants, ANN recall against the
exact baseline, centroid shape."""

from __future__ import annotations

import math

import pytest

from simple_query_engine_spark.operators import similarity as S


@pytest.fixture(scope="module")
def exact_topk(spark, sf_dir):
    rows = S.q_sim_topk_bruteforce(spark, sf_dir).collect()
    by_query: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.sim_rank)):
        by_query.setdefault(r.query_id, []).append(r)
    return by_query


def test_topk_shape_and_ordering(exact_topk):
    assert len(exact_topk) == S.NUM_QUERY_VECTORS
    for query_id, rows in exact_topk.items():
        assert [r.sim_rank for r in rows] == list(range(1, S.TOP_K + 1))
        sims = [r.similarity for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)
        assert all(r.neighbor_id != query_id for r in rows)


def test_cosine_matches_numpy(spark, sf_dir, exact_topk):
    import numpy as np

    embeddings = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    for query_id, rows in exact_topk.items():
        for r in rows[:3]:
            a, b = embeddings[query_id], embeddings[r.neighbor_id]
            expected = float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))
            assert abs(r.similarity - round(expected, 4)) <= 1e-4


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    import duckdb

    from tools.check_correctness import register_views

    con = duckdb.connect()
    register_views(con, sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "sim_topk_bruteforce",
        "sim_ann_lsh",
        "sim_multiprobe_lsh",
        "sim_ivf_topk",
        "sim_sq_rerank",
        "sim_range_search",
        "sim_diverse_topk",
        "sim_hard_negatives",
    ],
)
def test_exact_rank_callers_match_oracle(spark, sf_dir, oracle_con, name):
    """Each candidate strategy ranked by the one exact-rank core
    (``_rank_exact``: page, radius, per-cell cap) returns its DuckDB
    oracle's rows, column names and type kinds — the type-strict
    comparison of tools/check_correctness.py."""
    from tools.check_correctness import compare, compare_types

    df = S.QUERIES[name](spark, sf_dir)
    duck = oracle_con.sql(S.ORACLES[name])
    duck_cols = list(duck.columns)
    problem = compare_types(df.schema, duck_cols, list(duck.types)) or compare(
        [tuple(r) for r in df.collect()], duck.fetchall(), df.columns, duck_cols
    )
    assert problem is None, problem


def test_ann_results_are_valid_and_bounded(spark, sf_dir, exact_topk):
    ann_rows = S.q_sim_ann_lsh(spark, sf_dir).collect()
    best_exact = {qid: rows[0].similarity for qid, rows in exact_topk.items()}
    for r in ann_rows:
        # ANN can miss neighbors but can never beat the exact best.
        assert r.similarity <= best_exact[r.query_id] + 1e-4


def test_ann_finds_some_candidates(spark, sf_dir):
    ann_rows = S.q_sim_ann_lsh(spark, sf_dir).collect()
    assert len(ann_rows) > 0  # buckets are non-degenerate


def test_multiprobe_lsh_matches_python_model_and_dominates(spark, sf_dir):
    """Full Python recompute of query-directed multi-probe LSH: integer
    signatures, smallest-|margin| flip choice (margin asc, plane idx
    asc), deduplicated probe candidates, rounded-cosine ranking — exact
    page equality.  Structurally, the multi-probe candidate set is a
    SUPERSET of the single-bucket set, so every single-bucket result
    similarity is ≤ the multi-probe similarity at the same rank."""
    import math as m

    import numpy as np

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    planes = [np.array(p, dtype=np.float64) for p in S._int_hyperplanes()]
    sv = {v: np.floor(e * S.EMB_SCALE) for v, e in emb.items()}
    dots = {v: [float(s @ p) for p in planes] for v, s in sv.items()}
    bucket = {
        v: sum((1 << i) for i, d in enumerate(ds) if d >= 0)
        for v, ds in dots.items()
    }
    nrm = {v: m.sqrt(float(e @ e)) for v, e in emb.items()}

    expected = {}
    for qid in range(S.NUM_QUERY_VECTORS):
        flips = sorted((abs(d), i) for i, d in enumerate(dots[qid]))[
            : S.MULTIPROBE_T
        ]
        probes = {bucket[qid]} | {bucket[qid] ^ (1 << i) for _, i in flips}
        cands = {v for v, b in bucket.items() if b in probes and v != qid}
        scored = sorted(
            (-round(float(emb[qid] @ emb[v]) / (nrm[qid] * nrm[v]), 4), v)
            for v in cands
        )[: S.TOP_K]
        for rank, (negsim, v) in enumerate(scored, 1):
            expected[(qid, rank)] = (v, -negsim)

    got = {
        (r.query_id, r.sim_rank): (r.neighbor_id, r.similarity)
        for r in S.q_sim_multiprobe_lsh(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in got.items()} == {
        k: v[0] for k, v in expected.items()
    }
    for k in expected:
        assert abs(got[k][1] - expected[k][1]) < 1e-9, k

    # Dominance over the single-bucket path: superset candidates mean the
    # rank-r similarity can only improve (compare where both have rank r).
    single = {
        (r.query_id, r.sim_rank): r.similarity
        for r in S.q_sim_ann_lsh(spark, sf_dir).collect()
    }
    assert single  # baseline non-degenerate
    for k, sim in single.items():
        assert k in got and got[k][1] >= sim - 1e-9, k
    # and the probe fan-out genuinely adds candidates somewhere
    assert len(got) > len(single)


def test_ivf_recall_against_bruteforce(spark, sf_dir, exact_topk):
    ivf_rows = S.q_sim_ivf_topk(spark, sf_dir).collect()
    by_query: dict[int, set] = {}
    for r in ivf_rows:
        by_query.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for query_id, rows in exact_topk.items():
        truth = {r.neighbor_id for r in rows}
        got = by_query.get(query_id, set())
        recalls.append(len(truth & got) / len(truth))
    # nprobe=4 of 16 cells: recall is imperfect by design but must beat
    # the random-subset floor (≈ nprobe/cells = 0.25) decisively.
    assert sum(recalls) / len(recalls) >= 0.3, f"IVF recalls {recalls}"


def test_neardup_corpus_results_nonempty(spark, sf_dir):
    """The checked threshold sits inside the corpus's actual cosine range
    (see NEARDUP_COSINE rationale), so both near-dup ops must return real
    pairs — an empty oracle-checked result proves nothing."""
    baseline = S.q_sim_neardup_pairs_baseline(spark, sf_dir).count()
    lsh = S.q_sim_neardup_lsh(spark, sf_dir).count()
    assert baseline > 0
    assert lsh > 0
    assert lsh <= baseline  # LSH can only miss, never invent


def test_neardup_lsh_finds_planted_pairs(spark, tmp_path):
    """Detection power at true near-dup cosines is pinned on a planted
    fixture: near-identical vectors (cosine ≈ 0.99) must be found by the
    LSH-bucketed path, and its pair set must stay within the baseline's."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    base = rng.standard_normal((20, 64)).astype("float32")
    vectors = list(base)
    # Plant 5 near-duplicates of the first 5 vectors (tiny perturbation).
    for i in range(5):
        vectors.append((base[i] + 0.01 * rng.standard_normal(64)).astype("float32"))
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vectors)),
            "embedding": [v.tolist() for v in vectors],
            "label": [0] * len(vectors),
        }
    )
    path = tmp_path / "embeddings.parquet"
    pdf.to_parquet(path)

    lsh = {
        (r.vec_id_a, r.vec_id_b)
        for r in S.q_sim_neardup_lsh(spark, str(tmp_path)).collect()
    }
    exact = {
        (r.vec_id_a, r.vec_id_b)
        for r in S.q_sim_neardup_pairs_baseline(spark, str(tmp_path)).collect()
    }
    planted = {(i, 20 + i) for i in range(5)}
    assert planted <= exact  # perturbed copies clear the threshold easily
    assert planted <= lsh, f"LSH missed planted pairs: {planted - lsh}"
    assert lsh <= exact  # LSH can only miss, never invent


def test_all_pairs_baseline_refuses_large_corpora(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(S, "ALL_PAIRS_MAX_VECTORS", 10)
    with pytest.raises(ValueError, match="all-pairs"):
        S.q_sim_neardup_pairs_baseline(spark, sf_dir)


def test_approx_distinct_within_error_bound(spark, sf_dir, tables):
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.relational2 import q_agg_approx_distinct

    # Raw HLL estimate vs exact (tighter than the query's 5% band).
    raw = (
        tables["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )
    for r in raw.collect():
        assert abs(r.approx_users - r.exact_users) <= max(2, 0.05 * r.exact_users)
    # The catalog query's tolerance-banded flags must hold everywhere.
    assert all(r.hll_within_5pct for r in q_agg_approx_distinct(spark, sf_dir).collect())


def test_quantile_sketch_tracks_exact(spark, sf_dir, tables):
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.relational2 import q_agg_quantile_sketch

    # GK sketch with accuracy=1000 → rank error ≤ 0.1%; raw values within
    # a small relative band of the exact median.
    raw = (
        tables["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
                "approx_median"
            ),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median"),
            F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(1000)).alias(
                "approx_p99"
            ),
        )
    )
    for r in raw.collect():
        assert abs(r.approx_median - r.exact_median) <= 0.05 * abs(r.exact_median)
        assert r.approx_p99 >= r.approx_median
    # The catalog query's tolerance-banded flags must hold everywhere.
    for r in q_agg_quantile_sketch(spark, sf_dir).collect():
        assert r.median_within_band and r.p99_within_band


def test_label_centroids_cover_dims(spark, sf_dir):
    rows = S.q_sim_label_centroids(spark, sf_dir).collect()
    assert all(r.n_dims == 64 for r in rows)
    assert all(r.centroid_norm >= 0 for r in rows)


def test_planted_neardup_finds_exactly_the_planted_pairs(spark, sf_dir):
    """At the production 0.9 threshold the planted corpus's only near-dup
    pairs are (original, original + PLANT_VEC_OFFSET); the multi-table LSH
    must surface essentially all of them."""
    from pyspark.sql import functions as F

    rows = S.q_sim_neardup_planted(spark, sf_dir).collect()
    assert rows, "planted corpus produced no near-dup pairs"
    for r in rows:
        assert r.vec_id_b == r.vec_id_a + S.PLANT_VEC_OFFSET
        assert r.vec_id_a % S.PLANT_VEC_MOD == 0
        assert r.similarity >= S.PLANTED_COSINE
    eligible = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter((F.col("vec_id") % S.PLANT_VEC_MOD) == 0)
        .count()
    )
    assert len(rows) >= 0.9 * eligible


def test_semantic_clusters_match_union_find_over_planted_pairs(spark, sf_dir):
    """Cluster summary must equal a pure-Python union-find over the
    (independently oracle-certified) planted near-dup pair list, and every
    planted copy must share a cluster with its source vector."""
    from simple_query_engine_spark.operators.similarity import (
        PLANT_VEC_MOD,
        PLANT_VEC_OFFSET,
        q_sim_neardup_planted,
        q_sim_semantic_clusters,
    )

    pairs = [
        (r.vec_id_a, r.vec_id_b)
        for r in q_sim_neardup_planted(spark, sf_dir).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    from collections import defaultdict

    comps = defaultdict(set)
    for node in list(parent):
        comps[find(node)].add(node)
    expected = sorted(
        (min(c), len(c), min(c)) for c in comps.values()
    )
    rows = q_sim_semantic_clusters(spark, sf_dir).collect()
    got = sorted((r.cluster_id, r.cluster_size, r.keep_vec_id) for r in rows)
    assert got == expected

    # Every planted (source, copy) pair is in SOME cluster together.
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    planted_sources = [v for v in range(0, n_vecs, PLANT_VEC_MOD)]
    assert planted_sources, "fixture must plant at least one pair"
    for v in planted_sources:
        assert find(v) == find(v + PLANT_VEC_OFFSET)


def test_sq_rerank_recall_vs_bruteforce(spark, sf_dir):
    """The int8 coarse pass + exact rerank must recover nearly all of the
    exact cosine top-k: quantization to the 127-grid barely perturbs the
    ranking, and the rerank re-scores with exact cosine, so misses can
    only come from true neighbors falling outside the 32-candidate
    shortlist."""
    from simple_query_engine_spark.operators.similarity import (
        TOP_K,
        q_sim_sq_rerank,
        q_sim_topk_bruteforce,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in q_sim_topk_bruteforce(spark, sf_dir).collect()
    }
    approx_rows = q_sim_sq_rerank(spark, sf_dir).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    # Exactly TOP_K results per query, ranked 1..TOP_K.
    per_q: dict[int, list[int]] = {}
    for r in approx_rows:
        per_q.setdefault(r.query_id, []).append(r.sim_rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, TOP_K + 1)), q
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_kmeans_train_matches_numpy_lloyd(spark, sf_dir):
    """Independent model: integer Lloyd on the shifted grid in numpy must
    reproduce every cell's membership count, inertia, and exact centroid
    checksum."""
    import hashlib

    import numpy as np

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    sv = {
        r.vec_id: (
            np.floor(np.array(r.embedding, dtype=np.float64) * S.EMB_SCALE)
            + S.KMEANS_OFFSET
        ).astype(np.int64)
        for r in rows
    }
    from simple_query_engine_spark.functions.hashing import md5_prefix_long

    # seed selection: lowest md5-prefix of vec_id (replicated in python)
    def h(vid):
        return int(
            hashlib.md5(str(vid).encode()).hexdigest()[: S.IVF_HASH_WIDTH], 16
        )

    seed_ids = sorted(sv, key=lambda v: (h(v), v))[: S.KMEANS_K]
    cent = {vid: sv[vid].copy() for vid in seed_ids}

    def assign():
        out = {}
        for vid, x in sv.items():
            best = min(
                ((int(((x - c) ** 2).sum()), cid) for cid, c in cent.items())
            )
            out[vid] = best  # (d, cell_id)
        return out

    for _ in range(S.KMEANS_ITERS):
        a = assign()
        sums, counts = {}, {}
        for vid, (_, cid) in a.items():
            sums[cid] = sums.get(cid, 0) + sv[vid]
            counts[cid] = counts.get(cid, 0) + 1
        for cid in cent:
            if cid in counts:
                cent[cid] = sums[cid] // counts[cid]  # non-negative: floor==trunc
    final = assign()
    want = {}
    for cid in cent:
        members = [(d, v) for v, (d, c) in final.items() if c == cid]
        digest = hashlib.md5(
            "|".join(str(int(x)) for x in cent[cid]).encode()
        ).hexdigest()
        want[cid] = (len(members), sum(d for d, _ in members), digest)

    got = {
        r.cell_id: (r.n_members, r.inertia, r.centroid_md5)
        for r in S.q_sim_kmeans_train(spark, sf_dir).collect()
    }
    assert got == want


def test_ivf_with_trained_centroids_recall(spark, sf_dir, exact_topk):
    """The point of training: IVF search using the k-means centroids must
    beat the random-subset recall floor (nprobe/K) decisively — the
    sim_recall_audit discipline applied to the trained quantizer."""
    import numpy as np
    from pyspark.sql import functions as F

    nprobe = 2
    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()}
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {
        r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()
    }
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    recalls = []
    for qid, rows in exact_topk.items():
        truth = {r.neighbor_id for r in rows}
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[:nprobe]}
        cands = [v for v, c in assigned.items() if c in probe and v != qid]
        q = emb[qid]
        scored = sorted(
            (
                (-float(q @ emb[v] / (np.linalg.norm(q) * np.linalg.norm(emb[v]))), v)
                for v in cands
            )
        )[: len(truth)]
        got = {v for _, v in scored}
        recalls.append(len(truth & got) / len(truth))
    floor = nprobe / S.KMEANS_K
    assert sum(recalls) / len(recalls) >= floor + 0.05, (recalls, floor)

def test_recall_audit_trained_reconciles_catalog_entries(spark, sf_dir, exact_topk):
    """The trained-IVF recall audit must equal the set reconciliation of
    its two catalog inputs (brute-force exact vs trained-IVF top-k), and
    the mean trained recall must decisively beat the nprobe/K random-
    subset floor — the claim the entry exists to certify (same floor as
    test_ivf_with_trained_centroids_recall)."""
    approx = {}
    for r in S.q_sim_ivf_trained_topk(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    audit = {r.query_id: r for r in S.q_sim_recall_audit_trained(spark, sf_dir).collect()}
    assert set(audit) == set(exact_topk)
    for qid, rows in exact_topk.items():
        truth = {r.neighbor_id for r in rows}
        hits = len(truth & approx.get(qid, set()))
        a = audit[qid]
        assert a.n_exact == len(truth) == S.TOP_K
        assert a.n_hits == hits
        assert a.recall_at_k == round(hits / len(truth), 4)
    trained_mean = sum(a.recall_at_k for a in audit.values()) / len(audit)
    assert trained_mean >= S.KMEANS_NPROBE / S.KMEANS_K + 0.05

def test_filtered_topk_prefilter_semantics(spark, sf_dir):
    """The filtered search must equal the Python model of PRE-filtering:
    allowed-label members of the probed cells, ranked by rounded cosine —
    and never contain a disallowed neighbor (post-filtering the
    unfiltered top-k would)."""
    import numpy as np

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    labels = {r.vec_id: r.label for r in rows}
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()}
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}

    expected = {}
    for qid in range(S.NUM_QUERY_VECTORS):
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        q = emb[qid]
        scored = sorted(
            (
                -round(
                    float(
                        q @ emb[v] / (np.linalg.norm(q) * np.linalg.norm(emb[v]))
                    ),
                    4,
                ),
                v,
            )
            for v, c in assigned.items()
            if c in probe and v != qid and labels[v] in S.FILTER_LABELS
        )
        expected[qid] = [v for _, v in scored[: S.TOP_K]]

    got: dict[int, list] = {}
    for r in sorted(
        S.q_sim_filtered_topk(spark, sf_dir).collect(),
        key=lambda r: (r.query_id, r.sim_rank),
    ):
        assert labels[r.neighbor_id] in S.FILTER_LABELS
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got == {q: v for q, v in expected.items() if v}

def test_ivf_append_trains_on_base_only_and_ranks_union(spark, sf_dir):
    """Numpy model of the append pipeline: (1) the trained centroids must
    equal integer Lloyd run on the BASE rows alone — the late batch never
    influences the quantizer; (2) the search output must equal ranking
    over base-assignment ∪ batch-argmin posting lists."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    sv = {
        r.vec_id: (
            np.floor(np.array(r.embedding, dtype=np.float64) * S.EMB_SCALE)
            + S.KMEANS_OFFSET
        ).astype(np.int64)
        for r in rows
    }
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    base_ids = [v for v in sv if v % S.IVF_BATCH_MOD != S.IVF_BATCH_REM]
    batch_ids = [v for v in sv if v % S.IVF_BATCH_MOD == S.IVF_BATCH_REM]
    assert batch_ids, "fixture has no batch rows"

    def h(vid):
        return int(
            hashlib.md5(str(vid).encode()).hexdigest()[: S.IVF_HASH_WIDTH], 16
        )

    seed_ids = sorted(base_ids, key=lambda v: (h(v), v))[: S.KMEANS_K]
    cent = {vid: sv[vid].copy() for vid in seed_ids}

    def argmin(x):
        return min((int(((x - c) ** 2).sum()), cid) for cid, c in cent.items())

    for _ in range(S.KMEANS_ITERS):
        a = {vid: argmin(sv[vid]) for vid in base_ids}
        sums, counts = {}, {}
        for vid, (_, cid) in a.items():
            sums[cid] = sums.get(cid, 0) + sv[vid]
            counts[cid] = counts.get(cid, 0) + 1
        for cid in cent:
            if cid in counts:
                cent[cid] = sums[cid] // counts[cid]

    is_batch = F.col("vec_id") % S.IVF_BATCH_MOD == F.lit(S.IVF_BATCH_REM)
    _, cent_df = S._kmeans_trained(
        spark, sf_dir, base_filter=~is_batch, key_prefix="kmeans_app"
    )
    got_cent = {r.cell_id: list(r.cv) for r in cent_df.collect()}
    assert got_cent == {cid: [int(x) for x in c] for cid, c in cent.items()}

    # membership: base + batch all argmin-assigned to the final centroids
    assigned = {vid: argmin(x)[1] for vid, x in sv.items()}
    expected = {}
    for qid in range(S.NUM_QUERY_VECTORS):
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        q = emb[qid]
        scored = sorted(
            (
                -round(
                    float(
                        q @ emb[v] / (np.linalg.norm(q) * np.linalg.norm(emb[v]))
                    ),
                    4,
                ),
                v,
            )
            for v, c in assigned.items()
            if c in probe and v != qid
        )
        expected[qid] = [v for _, v in scored[: S.TOP_K]]

    got: dict[int, list] = {}
    batch_neighbors = 0
    for r in sorted(
        S.q_sim_ivf_append_topk(spark, sf_dir).collect(),
        key=lambda r: (r.query_id, r.sim_rank),
    ):
        got.setdefault(r.query_id, []).append(r.neighbor_id)
        if r.neighbor_id % S.IVF_BATCH_MOD == S.IVF_BATCH_REM:
            batch_neighbors += 1
    assert got == {q: v for q, v in expected.items() if v}
    # the appended rows must actually be searchable (the point of the op)
    assert batch_neighbors == sum(
        1
        for vs in expected.values()
        for v in vs
        if v % S.IVF_BATCH_MOD == S.IVF_BATCH_REM
    )

def test_hard_negatives_anti_label_semantics(spark, sf_dir):
    """Hard-negative mining must equal the Python model: probed-cell
    members with a label DIFFERENT from the query's, ranked by rounded
    cosine — and never contain a same-label neighbor."""
    import numpy as np

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    labels = {r.vec_id: r.label for r in rows}
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()}
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}

    expected = {}
    for qid in range(S.NUM_QUERY_VECTORS):
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        q = emb[qid]
        scored = sorted(
            (
                -round(
                    float(
                        q @ emb[v] / (np.linalg.norm(q) * np.linalg.norm(emb[v]))
                    ),
                    4,
                ),
                v,
            )
            for v, c in assigned.items()
            if c in probe and v != qid and labels[v] != labels[qid]
        )
        expected[qid] = [v for _, v in scored[: S.TOP_K]]

    got: dict[int, list] = {}
    for r in sorted(
        S.q_sim_hard_negatives(spark, sf_dir).collect(),
        key=lambda r: (r.query_id, r.sim_rank),
    ):
        assert labels[r.neighbor_id] != labels[r.query_id]
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    assert got == {q: v for q, v in expected.items() if v}


def test_semdedup_matches_numpy_within_cell_model(spark, sf_dir):
    """The pair stage recomputed independently: take the trained
    assignment (training itself is model-checked by
    test_kmeans_train_matches_numpy_lloyd), brute-force every within-cell
    pair in numpy, and require the drop set, keeper ids, and max
    similarities to match exactly."""
    import numpy as np

    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    vectors, cent = S._kmeans_trained(
        spark,
        sf_dir,
        key_prefix="semdedup",
        k=S._adaptive_k(n_corpus, S.SEMDEDUP_K),
        iters=S.SEMDEDUP_ITERS,
    )
    cells = {
        r.vec_id: r.cell_id
        for r in S._kmeans_assign(vectors, cent).select("vec_id", "cell_id").collect()
    }
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    by_cell: dict[int, list[int]] = {}
    for vid, cid in cells.items():
        by_cell.setdefault(cid, []).append(vid)
    expected: dict[int, tuple[int, int, float]] = {}
    for cid, members in by_cell.items():
        for b in members:
            partners = []
            for a in members:
                if a >= b:
                    continue
                s = round(
                    float(
                        emb[a] @ emb[b]
                        / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b]))
                    ),
                    4,
                )
                if s >= S.NEARDUP_COSINE:
                    partners.append((a, s))
            if partners:
                expected[b] = (
                    cid,
                    min(a for a, _ in partners),
                    max(s for _, s in partners),
                )
    got = {
        r.vec_id: (r.cell_id, r.dup_of, r.max_sim)
        for r in S.q_sim_semdedup(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    assert len(got) > 0  # non-vacuous at every SF
    for vid, (cid, dup_of, max_sim) in expected.items():
        g = got[vid]
        assert g[0] == cid and g[1] == dup_of, vid
        assert abs(g[2] - max_sim) <= 1e-9, vid


def test_hybrid_retrieval_fuses_rank_lists_exactly(spark, sf_dir):
    """Fusion recomputed in Python from the two side rankings: collect the
    BM25 page and an independently recomputed dense page, apply the RRF
    formula, and require exact (query, fused_rank) agreement."""
    import numpy as np

    from simple_query_engine_spark.operators.text import (
        BM25_QUERIES,
        q_text_bm25_search,
    )

    lex = {}
    for r in q_text_bm25_search(spark, sf_dir).collect():
        lex[(r.query_id, r.doc_id)] = r.rank
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    dense = {}
    for qid in sorted(BM25_QUERIES):
        sims = []
        q = emb[qid]
        qn = np.linalg.norm(q)
        for did, v in emb.items():
            if did == qid:
                continue
            sims.append((round(float(q @ v / (qn * np.linalg.norm(v))), 4), did))
        ranked = sorted(sims, key=lambda t: (-t[0], t[1]))[: S.HYBRID_TOP_K]
        for i, (_, did) in enumerate(ranked, 1):
            dense[(qid, did)] = i
    expected = {}
    for qid in sorted(BM25_QUERIES):
        cands = {d for q, d in list(lex) + list(dense) if q == qid}
        rows = []
        for d in cands:
            lr = lex.get((qid, d), 0)
            dr = dense.get((qid, d), 0)
            rrf = (1_000_000 // (S.RRF_K + lr) if lr else 0) + (
                1_000_000 // (S.RRF_K + dr) if dr else 0
            )
            rows.append((d, lr, dr, rrf))
        rows.sort(key=lambda t: (-t[3], t[0]))
        for i, (d, lr, dr, rrf) in enumerate(rows[: S.HYBRID_TOP_K], 1):
            expected[(qid, i)] = (d, lr, dr, rrf)
    got = {
        (r.query_id, r.fused_rank): (r.doc_id, r.lex_rank, r.dense_rank, r.rrf_micro)
        for r in S.q_sim_hybrid_retrieval(spark, sf_dir).collect()
    }
    assert got == expected
    # both modalities contribute to the fused pages
    assert any(lr > 0 for (_, lr, _, _) in got.values())
    assert any(dr > 0 for (_, _, dr, _) in got.values())


def test_knn_graph_matches_numpy_model(spark, sf_dir):
    """Full numpy recompute of the IVF-restricted kNN graph: per-vector
    probe set, candidate lists, rounded-cosine top-k ordering, and the
    mutual flag must all match exactly.  Uses the entry's own adaptive
    K ∝ √N quantizer (``_knn_quantizer``)."""
    import numpy as np

    vectors, cent = S._knn_quantizer(spark, sf_dir)
    assigned = {
        r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()
    }
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    nrm = {v: float(np.linalg.norm(e)) for v, e in emb.items()}

    edges: dict[int, list[tuple[int, int, float]]] = {}
    for qid in sv:
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        cands = [v for v, c in assigned.items() if c in probe and v != qid]
        scored = sorted(
            (-round(float(emb[qid] @ emb[v]) / (nrm[qid] * nrm[v]), 4), v)
            for v in cands
        )[: S.KNN_GRAPH_K]
        edges[qid] = [
            (v, rank + 1, -negsim) for rank, (negsim, v) in enumerate(scored)
        ]
    kept = {(q, v) for q, lst in edges.items() for v, _, _ in lst}

    rows = S.q_sim_knn_graph(spark, sf_dir).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.vec_id, []).append(r)
    assert set(got) == {q for q, lst in edges.items() if lst}
    saw_mutual = False
    for q, lst in edges.items():
        g = sorted(got.get(q, []), key=lambda r: r.knn_rank)
        assert [(r.neighbor_id, r.knn_rank) for r in g] == [
            (v, rank) for v, rank, _ in lst
        ], q
        for r, (_, _, sim) in zip(g, lst):
            assert abs(r.similarity - sim) < 1e-9, (q, r.neighbor_id)
            want_mutual = 1 if (r.neighbor_id, q) in kept else 0
            assert r.mutual == want_mutual, (q, r.neighbor_id)
            saw_mutual = saw_mutual or want_mutual == 1
    # Non-vacuous: the planted near-dup pairs make some edges mutual.
    assert saw_mutual


def test_knn_density_matches_numpy_model(spark, sf_dir):
    """Full numpy recompute of the kNN-density outlier page: rebuild the
    IVF-restricted kNN edges, take the offset-shifted integer basis-point
    mean per vector, rank ascending — page membership, ranks, neighbor
    counts, and exact density values must all match.  Uses the entry's
    own adaptive K ∝ √N quantizer (``_knn_quantizer``)."""
    import numpy as np

    vectors, cent = S._knn_quantizer(spark, sf_dir)
    assigned = {
        r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()
    }
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    nrm = {v: float(np.linalg.norm(e)) for v, e in emb.items()}

    dens: dict[int, tuple[int, int]] = {}
    for qid in sv:
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        cands = [v for v, c in assigned.items() if c in probe and v != qid]
        top = sorted(
            (-round(float(emb[qid] @ emb[v]) / (nrm[qid] * nrm[v]), 4), v)
            for v in cands
        )[: S.KNN_GRAPH_K]
        n = len(top)
        sum_bp = sum(int(round(-negsim * 10000)) for negsim, _ in top)
        d = ((sum_bp + 10000 * n) * 1000) // n - 10_000_000 if n else -1
        dens[qid] = (n, d)
    page = sorted(dens.items(), key=lambda kv: (kv[1][1], kv[0]))
    expected = {
        vid: (n, d, rank)
        for rank, (vid, (n, d)) in enumerate(page[: S.SIM_OUTLIER_TOPN], 1)
    }

    got = {
        r.vec_id: (r.n_neighbors, r.density_mbp, r.outlier_rank)
        for r in S.q_sim_knn_density(spark, sf_dir).collect()
    }
    assert got == expected
    # Non-vacuous: densities vary across the page (a real ranking).
    assert len({d for _, d, _ in got.values()}) > 1


def test_range_search_matches_numpy_model(spark, sf_dir):
    """Numpy recompute of the radius search: same trained probes and
    candidate lists as IVF top-k, kept iff round(cos,4) >= threshold —
    exact set equality, plus the top-k consistency property (every
    top-k row at or above the radius appears in the range result, and
    no range row beats the top-1)."""
    import numpy as np

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {
        r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()
    }
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    nrm = {v: float(np.linalg.norm(e)) for v, e in emb.items()}

    expected = {}
    for qid in range(S.NUM_QUERY_VECTORS):
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        for v, c in assigned.items():
            if c in probe and v != qid:
                sim = round(float(emb[qid] @ emb[v]) / (nrm[qid] * nrm[v]), 4)
                if sim >= S.SIM_RANGE_THRESHOLD:
                    expected[(qid, v)] = sim

    rows = S.q_sim_range_search(spark, sf_dir).collect()
    got = {(r.query_id, r.neighbor_id): r.similarity for r in rows}
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-9, k
    # consistency with the top-k page
    topk = S.q_sim_ivf_trained_topk(spark, sf_dir).collect()
    for r in topk:
        if r.similarity >= S.SIM_RANGE_THRESHOLD:
            assert (r.query_id, r.neighbor_id) in got
    assert got  # radius sits inside the corpus cosine range


def test_diverse_topk_cell_cap_and_model(spark, sf_dir):
    """Numpy recompute of the diversified page (per-cell cap, then global
    rank) plus the structural properties: no query page carries more than
    DIVERSE_CELL_CAP results from one cell, and diversification actually
    binds somewhere (some plain-top-k page exceeds the cap, so the
    diversified page differs)."""
    import numpy as np

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {
        r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()
    }
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    nrm = {v: float(np.linalg.norm(e)) for v, e in emb.items()}

    expected = {}
    plain_pages_hit_cap = False
    for qid in range(S.NUM_QUERY_VECTORS):
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        scored = sorted(
            (
                -round(float(emb[qid] @ emb[v]) / (nrm[qid] * nrm[v]), 4),
                v,
                c,
            )
            for v, c in assigned.items()
            if c in probe and v != qid
        )
        from collections import Counter

        plain_cells = Counter(c for _, _, c in scored[: S.TOP_K])
        plain_pages_hit_cap |= any(
            n > S.DIVERSE_CELL_CAP for n in plain_cells.values()
        )
        slots: dict[int, int] = {}
        survivors = []
        for negsim, v, c in scored:
            slots[c] = slots.get(c, 0) + 1
            if slots[c] <= S.DIVERSE_CELL_CAP:
                survivors.append((negsim, v, c))
        for rank, (negsim, v, c) in enumerate(survivors[: S.TOP_K], 1):
            expected[(qid, rank)] = (v, c, -negsim)

    got = {
        (r.query_id, r.sim_rank): (r.neighbor_id, r.cell_id, r.similarity)
        for r in S.q_sim_diverse_topk(spark, sf_dir).collect()
    }
    assert {k: v[:2] for k, v in got.items()} == {
        k: v[:2] for k, v in expected.items()
    }
    for k in expected:
        assert abs(got[k][2] - expected[k][2]) < 1e-9, k
    # the cap holds on every returned page
    from collections import Counter

    per_page = Counter((q, c) for (q, _), (_, c, _) in got.items())
    assert all(n <= S.DIVERSE_CELL_CAP for n in per_page.values())
    # and it binds: some plain top-k page over-concentrates in one cell
    assert plain_pages_hit_cap


def test_ivf_delete_tombstones_mutate_index_state(spark, sf_dir):
    """Deletion semantics: (a) no deleted vector ever appears in any
    result page; (b) the live posting lists shrink by exactly the
    tombstone count (index-state mutation, not a scan predicate); (c)
    results equal the trained search restricted to surviving candidates
    (the two formulations must agree — deletion loses nothing else)."""
    from pyspark.sql import functions as F

    rows = S.q_sim_ivf_delete_topk(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.neighbor_id % S.IVF_DELETE_MOD != S.IVF_DELETE_REM, r

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    members = S._kmeans_assign(vectors, cent)
    n_all = members.count()
    n_tomb = vectors.filter(
        F.col("vec_id") % S.IVF_DELETE_MOD == S.IVF_DELETE_REM
    ).count()
    live = members.filter(
        F.col("vec_id") % S.IVF_DELETE_MOD != S.IVF_DELETE_REM
    ).count()
    assert n_tomb > 0
    assert live == n_all - n_tomb

    ref = S._ivf_trained_search(
        spark,
        sf_dir,
        cand_filter=F.col("vec_id") % S.IVF_DELETE_MOD != S.IVF_DELETE_REM,
    ).collect()
    key = lambda r: (r.query_id, r.sim_rank, r.neighbor_id, r.similarity)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, ref))


def test_ivfadc_matches_numpy_model(spark, sf_dir):
    """Full numpy recompute of the IVF+ADC composition: probe sets,
    sign-dot coarse scores within probed cells, SQ_CAND shortlist, and
    the exact-cosine rerank page must all match exactly."""
    import numpy as np

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {
        r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()
    }
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    sgn = {v: np.where(e >= 0, 1, -1) for v, e in emb.items()}
    qi = {v: np.floor(e * S.SQ_SCALE).astype(np.int64) for v, e in emb.items()}
    nrm = {v: float(np.linalg.norm(e)) for v, e in emb.items()}

    want = {}
    for qid in range(S.NUM_QUERY_VECTORS):
        dists = sorted(
            (int(((sv[qid] - c) ** 2).sum()), cid) for cid, c in cent_rows.items()
        )
        probe = {cid for _, cid in dists[: S.KMEANS_NPROBE]}
        cands = [v for v, c in assigned.items() if c in probe and v != qid]
        coarse = sorted(
            (-int(qi[qid] @ sgn[v]), v) for v in cands
        )[: S.SQ_CAND]
        short = [v for _, v in coarse]
        reranked = sorted(
            (-round(float(emb[qid] @ emb[v]) / (nrm[qid] * nrm[v]), 4), v)
            for v in short
        )[: S.TOP_K]
        want[qid] = [
            (v, rank + 1, -negsim) for rank, (negsim, v) in enumerate(reranked)
        ]

    got: dict[int, list] = {}
    for r in S.q_sim_ivfadc_topk(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(r)
    assert set(got) == {q for q, lst in want.items() if lst}
    for qid, lst in want.items():
        g = sorted(got.get(qid, []), key=lambda r: r.sim_rank)
        assert [(r.neighbor_id, r.sim_rank) for r in g] == [
            (v, rank) for v, rank, _ in lst
        ], qid
        for r, (_, _, sim) in zip(g, lst):
            assert abs(r.similarity - sim) < 1e-9, (qid, r.neighbor_id)


def test_centroid_balance_reconciles_with_train_report(spark, sf_dir):
    """The index-health row must be derivable from the per-cell training
    report: same populated-cell count, totals, extremes, and the exact
    integer imbalance ratio."""
    cells = {
        r.cell_id: r.n_members
        for r in S.q_sim_kmeans_train(spark, sf_dir).collect()
    }
    row = S.q_sim_centroid_balance(spark, sf_dir).collect()[0]
    assert row.n_cells_populated == len(cells)
    assert row.n_cells_empty == S.KMEANS_K - len(cells)
    assert row.total_vecs == sum(cells.values())
    assert row.max_members == max(cells.values())
    assert row.min_members == min(cells.values())
    assert row.imbalance_ppm == (
        max(cells.values()) * len(cells) * 1_000_000
    ) // sum(cells.values())
    assert row.imbalance_ppm >= 1_000_000  # max >= mean always


def test_ivf_rebuild_reconciles_with_lifecycle_entries(spark, sf_dir):
    """The rebuild decision row must be derivable from the already-model-
    tested lifecycle entries: rebuilt imbalance == the centroid-balance
    audit, both hit totals == the summed recall reconciliations of the
    drifted (append) and rebuilt (trained) searches, and on the
    distribution-uniform synthetic corpus the trigger stays FALSE."""
    row = S.q_sim_ivf_rebuild(spark, sf_dir).collect()[0]
    bal = S.q_sim_centroid_balance(spark, sf_dir).collect()[0]
    assert row.rebuilt_imbalance_ppm == bal.imbalance_ppm
    drifted = S._recall_vs_exact(
        spark, sf_dir, S.q_sim_ivf_append_topk(spark, sf_dir)
    ).collect()
    rebuilt = {
        r.query_id: r
        for r in S.q_sim_recall_audit_trained(spark, sf_dir).collect()
    }
    assert row.drifted_hits == sum(r.n_hits for r in drifted)
    assert row.rebuilt_hits == sum(r.n_hits for r in rebuilt.values())
    assert row.n_exact_total == sum(r.n_exact for r in drifted)
    assert row.recall_delta_hits == row.rebuilt_hits - row.drifted_hits
    assert row.drifted_imbalance_ppm >= 1_000_000  # max >= mean always
    assert not row.rebuild_triggered, (
        "uniform appends must not trip the drift bar: "
        f"{row.drifted_imbalance_ppm} ppm"
    )


def test_ivf_rebuild_fires_and_improves_on_planted_drift(spark, tmp_path):
    """When the appended batch IS a new cluster the base quantizer has no
    cell for (true quantizer drift), the trigger must fire and the
    retrained index must strictly reduce imbalance without losing recall:
    base = 7 tight separated clusters, batch (vec_id % 10 == 7) = a tight
    cloud on an 8th axis the base never saw."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(11)
    centers = np.zeros((8, 64))
    for c in range(8):
        centers[c, c] = 0.35
    vecs = []
    for i in range(200):
        if i % 10 == 7:
            v = centers[7] + 0.005 * rng.standard_normal(64)
        else:
            v = centers[i % 7] + 0.01 * rng.standard_normal(64)
        vecs.append(np.clip(v, -0.45, 0.45).astype("float32"))
    pd.DataFrame(
        {
            "vec_id": range(200),
            "embedding": [v.tolist() for v in vecs],
            "label": [i % 10 for i in range(200)],
        }
    ).to_parquet(tmp_path / "embeddings.parquet")

    row = S.q_sim_ivf_rebuild(spark, str(tmp_path)).collect()[0]
    assert row.rebuild_triggered, (
        f"planted new-cluster drift must trip the bar: "
        f"{row.drifted_imbalance_ppm} ppm <= {S.REBUILD_IMBALANCE_PPM}"
    )
    assert row.rebuilt_imbalance_ppm < row.drifted_imbalance_ppm, (
        "retraining on the current corpus must absorb the planted cluster"
    )
    assert row.recall_delta_hits >= 0, "the rebuilt index must not lose recall"


def test_power_iteration_matches_numpy_and_converges(spark, sf_dir):
    """Numpy recompute of the integer power method (same grid, same
    truncating rescale) — exact component equality; and the direction is
    genuinely the top eigenvector's neighborhood: its Rayleigh quotient
    under X'X must exceed that of the all-ones start (the method made
    progress) and be >= 0.9x of numpy's true top eigenvalue."""
    import numpy as np

    X = np.array(
        [
            np.floor(np.array(r.embedding, dtype=np.float64) * S.EMB_SCALE)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ],
        dtype=np.int64,
    )

    def tdiv(v, d):
        q = abs(int(v)) // int(d)
        return q if v >= 0 else -q

    v = np.ones(X.shape[1], dtype=np.int64)
    for _ in range(S.POWER_ITERS):
        d = X @ v
        w = X.T @ d
        m = int(np.max(np.abs(w)))
        v = np.array([tdiv(int(x) * S.POWER_VSCALE, m) for x in w], dtype=np.int64)

    got = {
        r.dim_idx: r.component
        for r in S.q_sim_power_iteration(spark, sf_dir).collect()
    }
    assert got == {j + 1: int(v[j]) for j in range(X.shape[1])}

    # convergence quality vs the true top eigenvalue
    Xf = X.astype(np.float64)
    G = Xf.T @ Xf
    top = float(np.linalg.eigvalsh(G)[-1])
    vf = v.astype(np.float64)
    rq = float(vf @ G @ vf) / float(vf @ vf)
    ones = np.ones(X.shape[1])
    rq0 = float(ones @ G @ ones) / float(ones @ ones)
    assert rq >= rq0 - 1e-9
    # The synthetic corpus is near-orthogonal (bunched spectrum, small
    # gap), so convergence per iteration is slow — the iteration count is
    # the dial; 5 fixed iterations land ~0.87x of the top eigenvalue here.
    assert rq >= 0.85 * top, (rq, top)


def test_adaptive_k_python_and_duckdb_twins_agree():
    """The K ∝ √N dial must be ENGINE-EXACT: Python's floor(sqrt(double(n)))
    (``_adaptive_k``) and DuckDB's (``_adaptive_k_sql``) both ride the
    IEEE-754 correctly-rounded sqrt, so the floors agree bit-for-bit.
    Sweep 1..4096 plus every perfect square and its ±1 neighbors up to
    10^6 (the classic floor-tip hazard points), both floor settings."""
    import duckdb

    hazard = sorted(
        {n for k in range(1, 1001) for n in (k * k - 1, k * k, k * k + 1)}
        | set(range(1, 4097))
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE ns(n BIGINT)")
    con.executemany("INSERT INTO ns VALUES (?)", [(n,) for n in hazard])
    for floor_k in (S.KNN_K_FLOOR, S.SEMDEDUP_K):
        rows = con.execute(
            f"SELECT n, GREATEST({floor_k}, CAST(floor(sqrt(CAST(n AS DOUBLE)))"
            " AS BIGINT)) FROM ns ORDER BY n"
        ).fetchall()
        for n, duck_k in rows:
            assert duck_k == S._adaptive_k(n, floor_k), (n, floor_k, duck_k)
    # And the SQL string the oracles actually embed is that expression
    # over the shifted-vector CTE.
    assert f"GREATEST({S.KNN_K_FLOOR}, " in S._adaptive_k_sql(S.KNN_K_FLOOR)
    assert "FROM v)" in S._adaptive_k_sql(S.KNN_K_FLOOR)


def test_knn_quantizer_k_scales_with_corpus(spark, tmp_path):
    """The kNN quantizer's cell count must GROW as the corpus grows —
    the O(N²/K) fixed-K growth retired by VERDICT r14 item 2.  Build two
    corpora (floor-bound small, √N-bound large) and count distinct
    trained cells; the large corpus must train ⌊√N⌋ cells, the small one
    exactly the floor."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    for n, want_k in ((40, S.KNN_K_FLOOR), (400, 20)):
        assert S._adaptive_k(n, S.KNN_K_FLOOR) == want_k
        d = str(tmp_path / f"corpus_{n}")
        emb = rng.uniform(-0.5, 0.5, size=(n, S.EMB_DIM)).astype("float32")
        spark.createDataFrame(
            [(i, [float(x) for x in emb[i]]) for i in range(n)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        _, cent = S._knn_quantizer(spark, d)
        assert cent.select("cell_id").distinct().count() == want_k, n


def test_recall_floor_planted_bar_and_fixture_separation(spark, sf_dir):
    """The certified recall floor (VERDICT r14 item 3): on the planted
    clusterable corpus the trained adaptive-K IVF must recover ≥ 0.8 of
    the exact top-k (measured 1.0 here).  Non-vacuity is checked on the
    FIXTURE itself: every exact top-k neighbor of every query must be a
    same-cluster member (the fixture genuinely separates — recall over
    it measures the index, not chance), and same-/cross-cluster cosine
    ranges must not overlap."""
    import numpy as np

    members = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in S._planted_cluster_corpus(spark, sf_dir).collect()
    }
    n = len(members)
    c = S._adaptive_k(n, S.KNN_K_FLOOR)

    rows = S.q_sim_recall_floor_planted(spark, sf_dir).collect()
    assert len(rows) == S.NUM_QUERY_VECTORS
    recalls = [r.recall_at_k for r in rows]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    for r in rows:
        assert r.n_exact == S.TOP_K

    # Fixture separation: exact top-k same-cluster; cosine ranges disjoint.
    nrm = {v: float(np.linalg.norm(e)) for v, e in members.items()}
    same_max_cross = -1.0
    for qid in range(S.NUM_QUERY_VECTORS):
        scored = sorted(
            (
                -round(float(members[qid] @ members[v]) / (nrm[qid] * nrm[v]), 4),
                v,
            )
            for v in members
            if v != qid
        )
        top = scored[: S.TOP_K]
        for negsim, v in top:
            assert v % c == qid % c, (qid, v, -negsim)
        cross = [
            -negsim for negsim, v in scored if v % c != qid % c
        ]
        same = [-negsim for negsim, v in scored if v % c == qid % c]
        assert min(same[: S.TOP_K]) > max(cross), qid
        same_max_cross = max(same_max_cross, max(cross))
    # the planted margin is wide, not marginal
    assert same_max_cross < 0.9


def test_raw_corpus_recall_tracks_scan_fraction(spark, sf_dir, exact_topk):
    """VERDICT r15 item 4 (operating point): the nprobe sweep at sf0.1,
    1x and 8x (ANN_SCALE.json `nprobe_recall_curve`) showed raw-corpus
    recall is LINEAR in the scanned fraction with no knee — the
    near-orthogonal signature (the quantizer partitions structureless
    data uniformly), while the planted clusterable fixture reads 1.0 at
    the same nprobe.  KMEANS_NPROBE=2 therefore stays the declared
    operating point: a 4x scan reduction whose recall floor is a DATA
    property.  Pin the curve's shape: recall is monotone in nprobe,
    reaches exactly 1.0 at nprobe=K (full scan), and at the operating
    point clears the nprobe/K random-subset floor."""
    import numpy as np

    vectors, cent = S._kmeans_trained(spark, sf_dir)
    assigned = {r.vec_id: r.cell_id for r in S._kmeans_assign(vectors, cent).collect()}
    cent_rows = {r.cell_id: np.array(r.cv, dtype=np.int64) for r in cent.collect()}
    sv = {r.vec_id: np.array(r.sv, dtype=np.int64) for r in vectors.collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def mean_recall(nprobe: int) -> float:
        recalls = []
        for qid, rows in exact_topk.items():
            truth = {r.neighbor_id for r in rows}
            dists = sorted(
                (int(((sv[qid] - c) ** 2).sum()), cid)
                for cid, c in cent_rows.items()
            )
            probe = {cid for _, cid in dists[:nprobe]}
            cands = [v for v, c in assigned.items() if c in probe and v != qid]
            q = emb[qid]
            scored = sorted(
                (
                    (
                        -float(
                            q @ emb[v] / (np.linalg.norm(q) * np.linalg.norm(emb[v]))
                        ),
                        v,
                    )
                    for v in cands
                )
            )[: len(truth)]
            recalls.append(len(truth & {v for _, v in scored}) / len(truth))
        return sum(recalls) / len(recalls)

    sweep = {n: mean_recall(n) for n in (1, 2, 4, S.KMEANS_K)}
    assert sweep[S.KMEANS_K] == 1.0, sweep  # full probe = exact search
    assert (
        sweep[1] <= sweep[2] <= sweep[4] <= sweep[S.KMEANS_K]
    ), sweep  # monotone in scanned fraction
    assert sweep[2] >= 2 / S.KMEANS_K, sweep  # operating point clears the floor
