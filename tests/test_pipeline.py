"""Curation pipeline composition tests — the scale property that matters:
the near-dup stage must be the LSH path (band-hash equi-join), never the
raw-shingle self-join whose hot keys fan out quadratically at corpus scale.
"""

from __future__ import annotations

from simple_query_engine_spark.operators import dedup as D
from simple_query_engine_spark.operators.pipeline import (
    q_pipeline_corpus_curation,
)


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_curation_plan_has_no_raw_shingle_self_join(spark, sf_dir):
    plan = optimized_plan(q_pipeline_corpus_curation(spark, sf_dir))
    offending = [
        line
        for line in plan.splitlines()
        if "Join" in line and "shingle" in line
    ]
    assert not offending, f"raw-shingle join in curation plan: {offending}"
    # The near-dup stage joins on the LSH band key instead.
    assert any(
        "Join" in line and "band_hash" in line for line in plan.splitlines()
    )


def test_stratified_sample_is_two_phase(spark, sf_dir):
    """The full-corpus window must partition by (lang, salt); only the
    ≤ salts × N survivors may pass through a per-lang-only window."""
    from simple_query_engine_spark.operators.pipeline import (
        SAMPLES_PER_LANG,
        SAMPLE_SALTS,
        q_sample_stratified,
    )

    plan = optimized_plan(q_sample_stratified(spark, sf_dir))
    window_lines = [
        line for line in plan.splitlines() if "windowspecdefinition(" in line
    ]
    assert len(window_lines) == 2
    final_line, pre_line = window_lines  # plan prints top-down
    assert "salt" in pre_line, pre_line  # corpus-wide phase is salted
    assert "salt" not in final_line  # final rank phase is per-lang
    # The per-lang phase reads only phase-1 survivors (bounded input).
    assert f"(pre_rank#" in plan and f"<= {SAMPLES_PER_LANG})" in plan
    rows = q_sample_stratified(spark, sf_dir).collect()
    per_lang: dict[str, list[int]] = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.sample_rank)
    for lang, ranks in per_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= SAMPLES_PER_LANG


def test_curation_losers_match_lsh_pairs(spark, sf_dir):
    """The docs the pipeline drops as near-dups are exactly the higher-id
    members of the MinHash-LSH pair list."""
    lsh_losers = {
        r.doc_id_b for r in D.q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    survivors = q_pipeline_corpus_curation(spark, sf_dir)
    # Recompute the survivor doc set with the stages inlined, then confirm
    # no LSH loser appears among survivors at doc granularity.
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.text import _normalized
    from simple_query_engine_spark.sources.catalog import table

    documents = table(spark, sf_dir, "documents")
    tokens = F.split(_normalized(F.col("text")), " ")
    quality_ids = {
        r.doc_id
        for r in documents.select(
            "doc_id", F.size(tokens).alias("n")
        ).filter(F.col("n") >= 20).collect()
    }
    keep_ids = {
        r.keep_doc_id for r in D.q_dedup_exact(spark, sf_dir).collect()
    }
    expected_docs = (quality_ids & keep_ids) - lsh_losers
    total = survivors.agg(F.sum("n_docs").alias("n")).collect()[0].n
    assert total == len(expected_docs)


def test_pack_sequences_matches_python_model(spark, sf_dir):
    """Packing is a pure function of (md5 order, token counts): a pure-
    Python greedy re-derivation must rebuild identical packs — pinning
    shard assignment, the start-offset rule, and the cumulative sums."""
    import hashlib
    from collections import defaultdict

    from simple_query_engine_spark.operators import pipeline as P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    rows = []
    for d in docs:
        norm = " ".join(d.text.lower().split())
        n = len(norm.split(" "))
        h = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:8], 16)
        rows.append((h % P.PACK_SHARDS, h, d.doc_id, n))
    expected = defaultdict(lambda: [0, 0])
    for shard in range(P.PACK_SHARDS):
        cum = 0
        for _, h, doc_id, n in sorted(
            (r for r in rows if r[0] == shard), key=lambda r: (r[1], r[2])
        ):
            pid = shard * P.PACK_SHARD_STRIDE + cum // P.PACK_TOKEN_BUDGET
            cum += n
            expected[pid][0] += 1
            expected[pid][1] += n
    out = {
        r.pack_id: (r.n_docs, r.pack_tokens)
        for r in P.q_pipeline_pack_sequences(spark, sf_dir).collect()
    }
    assert out == {k: tuple(v) for k, v in expected.items()}
    # Non-vacuous: multiple packs per shard, and every pack respects the
    # start-offset rule (cumulative fill, so packs are contiguous).
    assert len(out) > P.PACK_SHARDS


def test_bloom_decontamination_no_false_negatives_and_fp_bound(spark, sf_dir):
    """The Bloom variant must flag a SUPERSET of the exact operator's
    documents (no false negatives, by construction), and its gram-level
    false-positive rate must stay within the (1 - e^(-kn/m))^k design
    bound (3x slack for variance at small counts)."""
    import math

    from simple_query_engine_spark.operators import pipeline as P
    from simple_query_engine_spark.operators.pipeline import (
        _contam_shingles,
        q_text_decontamination,
        q_text_decontamination_bloom,
    )
    from simple_query_engine_spark.sources.catalog import table

    exact = {
        r.doc_id: r.shared_ngrams
        for r in q_text_decontamination(spark, sf_dir).collect()
    }
    bloom = {
        r.doc_id: r.flagged_ngrams
        for r in q_text_decontamination_bloom(spark, sf_dir).collect()
    }
    assert set(exact) <= set(bloom)
    # Per doc, every exactly-shared gram is also bloom-flagged.
    assert all(bloom[doc] >= exact[doc] for doc in exact)

    shingled = _contam_shingles(table(spark, sf_dir, "documents"))
    n_eval = (
        shingled.filter(shingled.doc_id < P.EVAL_SET_MAX_DOC_ID)
        .select("gram").distinct().count()
    )
    n_corpus_grams = shingled.filter(
        shingled.doc_id >= P.EVAL_SET_MAX_DOC_ID
    ).count()
    p_design = (
        1 - math.exp(-P.BLOOM_HASHES * n_eval / P.BLOOM_BITS)
    ) ** P.BLOOM_HASHES
    false_grams = sum(bloom.values()) - sum(exact.values())
    assert false_grams <= 3 * p_design * n_corpus_grams + 5, (
        f"FP grams {false_grams} vs design bound "
        f"{p_design:.2e} * {n_corpus_grams}"
    )


def test_bloom_decontamination_broadcasts_fixed_positions(spark, sf_dir):
    """Plan shape: the eval position set is the BROADCAST side (the
    corpus side must stream, never shuffle into the membership join)."""
    from simple_query_engine_spark.operators.pipeline import (
        q_text_decontamination_bloom,
    )

    plan = (
        q_text_decontamination_bloom(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_attrition_report_reconciles_with_curation(spark, sf_dir):
    """The attrition report's per-stage accounting must reconcile exactly:
    stages partition every doc, and the 'kept' total equals the curation
    pipeline's survivor count (same stage definitions, same order)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.pipeline import (
        q_pipeline_attrition_report,
    )
    from simple_query_engine_spark.sources.catalog import table

    report = q_pipeline_attrition_report(spark, sf_dir).collect()
    n_total = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in report) == n_total
    for r in report:
        assert r.n_quality_drop + r.n_exact_dup + r.n_near_dup + r.n_kept == r.n_docs
    survivors = (
        q_pipeline_corpus_curation(spark, sf_dir)
        .agg(F.sum("n_docs").alias("n")).collect()[0].n
    )
    assert sum(r.n_kept for r in report) == survivors


def test_domain_mix_weights_rebalance_to_uniform(spark, sf_dir):
    """mix_weight must be the exact uniform-rebalance factor: applying it
    to each source's token mass yields total/|S| tokens per source (up to
    the single 4-decimal rounding)."""
    from simple_query_engine_spark.operators.pipeline import (
        q_pipeline_domain_mix,
    )

    rows = q_pipeline_domain_mix(spark, sf_dir).collect()
    total = sum(r.total_tokens for r in rows)
    n_sources = len(rows)
    for r in rows:
        expected = round(total / (n_sources * r.total_tokens), 4)
        assert abs(r.mix_weight - expected) < 1e-9
        assert abs(r.token_share - round(r.total_tokens / total, 4)) < 1e-9
    # Shares partition the corpus.
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-2


def test_domain_mix_single_corpus_scan(spark, sf_dir):
    """The corpus totals must derive from the per-source aggregate's
    |S| rows, never from a second scan+tokenization of the corpus (the
    self-join totals formulation costs a genuine 2x at scale)."""
    from simple_query_engine_spark.operators.pipeline import (
        q_pipeline_domain_mix,
    )

    plan = (
        q_pipeline_domain_mix(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan


def test_url_dedup_matches_python_model(spark, sf_dir, tables):
    """Pure-Python re-derivation of the planted URLs and the canonical
    form: per-source page counts must match exactly, and the canonical
    strings must carry no scheme/www/tracking/fragment residue."""
    import re

    from simple_query_engine_spark.operators.pipeline import (
        URL_VARIANTS,
        q_pipeline_url_dedup,
    )

    docs = tables["documents"].select("doc_id", "source").collect()

    def planted(doc_id: int, source: str) -> str:
        page = doc_id // URL_VARIANTS
        base = f"https://example-{source}.com/article/{page}"
        v = doc_id % URL_VARIANTS
        if v == 1:
            return f"http://www.example-{source}.com/article/{page}/".upper()
        if v == 2:
            return f"{base}?utm_source=feed{doc_id % 5}"
        if v == 3:
            return f"{base}#section{doc_id % 3}"
        return base

    def canonical(url: str) -> str:
        c = url.lower()
        c = re.sub(r"^https?://", "", c)
        c = re.sub(r"^www[.]", "", c)
        c = re.sub(r"#[a-z0-9]*$", "", c)
        c = re.sub(r"[?]utm_[a-z]+=[a-z0-9]*$", "", c)
        return re.sub(r"/$", "", c)

    model: dict[str, set[str]] = {}
    n_docs: dict[str, int] = {}
    for r in docs:
        c = canonical(planted(r.doc_id, r.source))
        assert re.fullmatch(r"example-[a-z0-9_]+[.]com/article/[0-9]+", c), c
        model.setdefault(r.source, set()).add(c)
        n_docs[r.source] = n_docs.get(r.source, 0) + 1
    got = {r.source: r for r in q_pipeline_url_dedup(spark, sf_dir).collect()}
    assert set(got) == set(model)
    for src in model:
        assert got[src].n_docs == n_docs[src]
        assert got[src].n_pages == len(model[src]), src
        assert got[src].n_dup_docs == n_docs[src] - len(model[src])
        assert got[src].first_canonical == min(model[src])


def test_incremental_curation_matches_full_recompute_and_is_delta_sized(
    spark, sf_dir
):
    """The maintained rollup must equal a from-scratch recompute over the
    merged state (the dml_incremental_view discipline), and the change
    feed that drives the delta branches must hold exactly the changed
    rows — edits as delete+insert pairs plus one insert per new doc —
    i.e. O(changed data), not O(corpus)."""
    from pyspark.sql import functions as F

    from simple_query_engine_spark.operators.pipeline import (
        INC_EDIT_MOD,
        INC_EDIT_RES,
        INC_EDIT_SUFFIX,
        INC_NEW_MOD,
        INC_NEW_OFFSET,
        INC_NEW_RES,
        INC_NEW_SOURCE,
        INC_NEW_PREFIX,
        MIN_TOKENS,
        q_pipeline_incremental_curation,
    )
    from simple_query_engine_spark.operators.text import _normalized
    from simple_query_engine_spark.sources.catalog import table

    maintained = q_pipeline_incremental_curation(spark, sf_dir)

    docs = table(spark, sf_dir, "documents")
    n_base = docs.count()
    n_edit = docs.filter(F.pmod("doc_id", F.lit(INC_EDIT_MOD)) == INC_EDIT_RES).count()
    n_new = docs.filter(F.pmod("doc_id", F.lit(INC_NEW_MOD)) == INC_NEW_RES).count()

    # Full recompute over the merged state, built independently in Spark.
    merged = docs.select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(INC_EDIT_MOD)) == INC_EDIT_RES,
            F.concat("text", F.lit(f" {INC_EDIT_SUFFIX}")),
        ).otherwise(F.col("text")).alias("text"),
        "lang",
        "source",
    ).unionByName(
        docs.filter(F.pmod("doc_id", F.lit(INC_NEW_MOD)) == INC_NEW_RES).select(
            (F.col("doc_id") + INC_NEW_OFFSET).alias("doc_id"),
            F.concat(F.lit(f"{INC_NEW_PREFIX} "), "text").alias("text"),
            "lang",
            F.lit(INC_NEW_SOURCE).alias("source"),
        )
    )
    full = (
        merged.select(
            "source",
            "lang",
            F.size(F.split(_normalized(F.col("text")), " ")).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= MIN_TOKENS)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    got = {
        (r.source, r.lang): (r.n_docs, r.total_tokens)
        for r in maintained.collect()
    }
    want = {
        (r.source, r.lang): (r.n_docs, r.total_tokens) for r in full.collect()
    }
    assert got == want

    # Delta-sized feed: re-derive the same table/feed and count its rows.
    # (Edits appear as delete+insert pairs; only NEW docs add single rows.)
    from simple_query_engine_spark.operators.dml import _scratch
    from simple_query_engine_spark.sources.managed import ManagedTable

    t = ManagedTable.create(
        spark,
        _scratch(spark, "inccur_test_"),
        docs.select("doc_id", "text", "lang", "source"),
    )
    edits = (
        docs.select("doc_id", "text", "lang", "source")
        .filter(F.pmod("doc_id", F.lit(INC_EDIT_MOD)) == INC_EDIT_RES)
        .withColumn("text", F.concat("text", F.lit(f" {INC_EDIT_SUFFIX}")))
    )
    news = docs.filter(F.pmod("doc_id", F.lit(INC_NEW_MOD)) == INC_NEW_RES).select(
        (F.col("doc_id") + INC_NEW_OFFSET).alias("doc_id"),
        F.concat(F.lit(f"{INC_NEW_PREFIX} "), "text").alias("text"),
        "lang",
        F.lit(INC_NEW_SOURCE).alias("source"),
    )
    t.merge(
        edits.unionByName(news).select("doc_id", "text", "lang", "source"),
        on="doc_id",
        update_assignments={"text": F.col("s.text")},
    )
    feed = t.changes(0, 1)
    assert feed.count() == 2 * n_edit + n_new
    assert feed.count() < n_base  # strictly smaller than a corpus rescan
    # And the flagged near-dups are a subset of the new ingest docs.
    flagged_rows = maintained.filter(F.col("n_new_neardup") > 0).collect()
    assert all(r.source == INC_NEW_SOURCE for r in flagged_rows)
    assert sum(r.n_new_neardup for r in flagged_rows) <= n_new


def test_dsir_selects_target_distribution_not_target_label(spark, tmp_path):
    """DSIR's defining property: selection follows the target DISTRIBUTION,
    not the target label.  20 docs share the target-like vocabulary (only
    10 of them labeled 'en'), 20 draw from a disjoint vocabulary; the top
    quartile must contain exclusively target-like docs — including
    unlabeled ones — and every off-distribution doc must sit in the
    bottom tiles."""
    import pandas as pd

    from simple_query_engine_spark.operators.pipeline import (
        q_pipeline_dsir_weights,
    )

    voc_a = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
    voc_b = ["uno", "dos", "tres", "cuatro", "cinco", "seis"]
    rows = []
    for i in range(40):
        target_like = i < 20
        vocab = voc_a if target_like else voc_b
        words = [vocab[(i + j) % len(vocab)] for j in range(12)]
        text = " ".join(words)
        rows.append(
            {
                "doc_id": i,
                # only HALF the target-like docs carry the target label
                "lang": "en" if (target_like and i % 2 == 0) else "fr",
                "text": text,
                "source": "src0",
                "n_chars": len(text),
            }
        )
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet")
    got = {
        r.doc_id: r
        for r in q_pipeline_dsir_weights(spark, str(tmp_path)).collect()
    }
    assert len(got) == 40
    selected = {i for i, r in got.items() if r.selected}
    assert len(selected) == 10  # exact top quartile of 40
    assert all(i < 20 for i in selected), selected
    a_weights = [got[i].logweight_micro for i in range(20)]
    b_weights = [got[i].logweight_micro for i in range(20, 40)]
    assert min(a_weights) > max(b_weights)
    for i, r in got.items():
        assert r.selected == (r.tile == 1), i
        assert r.n_feats == 11, i  # 12 words -> 11 bigrams


def test_mixture_sample_matches_python_model(spark, sf_dir):
    """Full Python recompute of the hash-gated mixture draw: thresholds,
    per-source sampled counts/tokens, and achieved shares must match
    exactly — plus the rebalancing property the entry exists for: the
    sampled token distribution is strictly closer to uniform than the
    input distribution."""
    import hashlib
    import re

    from simple_query_engine_spark.operators.pipeline import (
        MIXTURE_GATE_MOD,
        q_pipeline_mixture_sample,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    )
    per_source: dict[str, list] = {}
    for d in docs:
        n = len(re.sub(r"\s+", " ", d.text.lower()).strip().split(" "))
        gate = (
            int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:8], 16)
            % MIXTURE_GATE_MOD
        )
        per_source.setdefault(d.source, []).append((n, gate))
    corpus_tokens = sum(n for lst in per_source.values() for n, _ in lst)
    n_sources = len(per_source)
    want = {}
    for s, lst in per_source.items():
        total = sum(n for n, _ in lst)
        accept = min(
            MIXTURE_GATE_MOD,
            (corpus_tokens * MIXTURE_GATE_MOD) // (n_sources * total),
        )
        kept = [(n, g) for n, g in lst if g < accept]
        want[s] = (len(lst), total, accept, len(kept), sum(n for n, _ in kept))
    total_sampled = sum(v[4] for v in want.values())
    rows = {r.source: r for r in q_pipeline_mixture_sample(spark, sf_dir).collect()}
    assert set(rows) == set(want)
    for s, (n_docs, total, accept, ds, ts) in want.items():
        r = rows[s]
        assert (
            r.n_docs,
            r.total_tokens,
            r.accept_ppm,
            r.docs_sampled,
            r.tokens_sampled,
        ) == (n_docs, total, accept, ds, ts), s
        assert r.sampled_share_ppm == ts * MIXTURE_GATE_MOD // total_sampled, s
    # Rebalancing: total absolute deviation from the uniform share shrinks.
    uniform = 1 / n_sources
    dev_in = sum(
        abs(v[1] / corpus_tokens - uniform) for v in want.values()
    )
    dev_out = sum(
        abs(v[4] / total_sampled - uniform) for v in want.values()
    )
    assert dev_out < dev_in, (dev_out, dev_in)


def test_mixture_sample_single_corpus_scan(spark, sf_dir):
    """Both the threshold aggregate and the sampled aggregate must read
    the session-cached per-doc projection, never re-scan the corpus:
    every ``Scan parquet`` string in the executed plan is the reprint
    inside an ``InMemoryTableScan`` reference (cache populated by ONE
    physical scan), with none outside (the domain-mix discipline)."""
    from simple_query_engine_spark.operators.pipeline import (
        q_pipeline_mixture_sample,
    )

    plan = (
        q_pipeline_mixture_sample(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert plan.count("Scan parquet") == plan.count("InMemoryTableScan"), plan


def test_fuzzy_decontamination_catches_planted_leaks(spark, sf_dir):
    """Every planted leaked copy (eval doc + one appended token, posing as
    a corpus doc) must be flagged against ITS OWN eval source at the
    production threshold; planted detections are a subset of the full
    result (organic eval near-matches may legitimately also fire)."""
    from simple_query_engine_spark.operators.dedup import PLANT_DOC_OFFSET
    from simple_query_engine_spark.operators.pipeline import (
        EVAL_SET_MAX_DOC_ID,
        PLANTED_JACCARD_THRESHOLD,
        q_text_decontamination_fuzzy,
    )

    rows = q_text_decontamination_fuzzy(spark, sf_dir).collect()
    got = {(r.doc_id, r.eval_doc_id): r.est_jaccard for r in rows}
    for eval_id in range(EVAL_SET_MAX_DOC_ID):
        key = (eval_id + PLANT_DOC_OFFSET, eval_id)
        assert key in got, f"planted leak {key} not detected"
        assert got[key] >= PLANTED_JACCARD_THRESHOLD
    for (did, eid), est in got.items():
        assert eid < EVAL_SET_MAX_DOC_ID and did >= EVAL_SET_MAX_DOC_ID
        assert est >= PLANTED_JACCARD_THRESHOLD


def test_inc_curation_merge_key_uniqueness_constants_pinned(spark, sf_dir):
    """VERDICT r17 item 8: q_pipeline_incremental_curation's merge source
    has unique keys by construction.  Pin the modular arithmetic that
    makes it true — if a future edit to the CDC id-range constants breaks
    disjointness, this fails here, before the merge's duplicate-key check
    fails the query:

    - news ids are (real ≡ INC_NEW_RES mod INC_NEW_MOD) + INC_NEW_OFFSET;
      the offset is ≡ 0 (mod INC_NEW_MOD) so the residue class survives,
    - INC_NEW_MOD is a multiple of INC_EDIT_MOD so that class projects to
      a single residue mod INC_EDIT_MOD,
    - and that residue differs from INC_EDIT_RES — edit and news key
      spaces are disjoint REGARDLESS of id magnitude (the runtime
      offset_doc_id guard separately enforces real ids < INC_NEW_OFFSET).

    Then machine-check the claim end-to-end: run the query, whose merge
    raises on a non-unique matched key."""
    from simple_query_engine_spark.operators.pipeline import (
        INC_EDIT_MOD,
        INC_EDIT_RES,
        INC_NEW_MOD,
        INC_NEW_OFFSET,
        INC_NEW_RES,
        q_pipeline_incremental_curation,
    )

    assert INC_NEW_OFFSET % INC_NEW_MOD == 0
    assert INC_NEW_MOD % INC_EDIT_MOD == 0
    assert (INC_NEW_RES % INC_EDIT_MOD) != INC_EDIT_RES

    assert q_pipeline_incremental_curation(spark, sf_dir).count() > 0
