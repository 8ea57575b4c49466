"""Multimodal plumbing tests: binary schema, Arrow-batched featurizer
correctness vs a pure-Python recomputation, stubbed decode contract."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from simple_query_engine_spark.operators import multimodal as M


def test_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...")


def test_binary_payload_schema(spark, sf_dir):
    df = M.with_binary_payload(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    dtypes = dict(df.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["meta"].startswith("struct<mime:string,n_bytes:int")


def test_features_match_python_recomputation(spark, sf_dir):
    import numpy as np

    features = {
        r.doc_id: r for r in M.q_multimodal_features(spark, sf_dir).collect()
    }
    sample = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).collect()
    assert len(features) >= len(sample)
    for doc in sample:
        payload = doc.text.encode("utf-8")
        arr = np.frombuffer(payload, dtype=np.uint8)
        got = features[doc.doc_id]
        assert got.n_bytes == len(payload)
        assert got.byte_sum == int(arr.sum())
        assert got.byte_max == int(arr.max())


def test_fake_resizer_has_fixed_shape(spark, sf_dir):
    rows = M.resized_thumbnails(spark, sf_dir).limit(10).collect()
    assert all(len(r.thumbnail) == M.THUMB_SIDE * M.THUMB_SIDE for r in rows)
    assert all(0 <= v <= 255 for r in rows for v in r.thumbnail)


def test_resize_checked_output_is_canonicalizable_string(spark, sf_dir):
    """The driver sorts result rows over all columns; an array<int> cell is
    unhashable in pandas, so the checked query must emit a scalar column."""
    df = M.q_multimodal_resize(spark, sf_dir)
    assert dict(df.dtypes)["thumbnail"] == "string"
    rows = df.limit(10).collect()
    for r in rows:
        values = [int(v) for v in r.thumbnail.split(",")]
        assert len(values) == M.THUMB_SIDE * M.THUMB_SIDE
        assert all(0 <= v <= 255 for v in values)
    # sortable in pandas exactly the way the driver canonicalizes
    import pandas as pd

    pd.DataFrame([r.asDict() for r in rows]).sort_values(["doc_id", "thumbnail"])


def test_frame_sample_shape_and_checksums(spark, sf_dir):
    import numpy as np

    frames = M.q_multimodal_frame_sample(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: r.text.encode("utf-8")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).collect()
    }
    for doc_id, payload in docs.items():
        sampled = sorted(by_doc[doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in sampled] == list(
            range(0, max(1, (len(payload) + M.FRAME_SIZE - 1) // M.FRAME_SIZE), M.FRAME_STRIDE)
        )
        first = sampled[0]
        expected = int(np.frombuffer(payload[: M.FRAME_SIZE], dtype=np.uint8).sum())
        assert first.frame_byte_sum == expected


def test_oracles_handle_empty_documents(spark):
    """The testdata corpus has no empty docs, but the Spark/oracle pair
    must not diverge if one appears: the featurizers emit explicit zero
    rows, and the oracles COALESCE/CASE-guard the empty case (an
    unguarded 'i % n' divides by zero; list_sum([]) is NULL in DuckDB)."""
    import duckdb

    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11), (2, "", "en", "s", 0)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'hello world', 'en', 's', 11), (2, '', 'en', 's', 0)"
        ") t(doc_id, text, lang, source, n_chars)"
    )
    payloads = M.with_binary_payload(docs).select("doc_id", "payload")
    for name, runner in (
        ("multimodal_features", lambda: payloads.mapInPandas(M.fake_featurizer, M.FEATURE_SCHEMA)),
        (
            "multimodal_resize",
            lambda: payloads.mapInPandas(M.fake_resizer, M.RESIZE_SCHEMA).select(
                "doc_id",
                F.concat_ws(",", F.col("thumbnail").cast("array<string>")).alias("thumbnail"),
            ),
        ),
        ("multimodal_frame_sample", lambda: payloads.mapInPandas(M.frame_sampler, M.FRAME_SCHEMA)),
    ):
        spark_rows = sorted(map(tuple, runner().collect()))
        duck_rows = sorted(map(tuple, con.execute(M.ORACLES[name]).fetchall()))
        assert spark_rows == duck_rows, name


def test_meta_matches_payload_length(spark, sf_dir):
    rows = M.q_multimodal_meta(spark, sf_dir).limit(50).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200).collect()
    }
    for r in rows:
        if r.doc_id in docs:
            assert r.n_bytes == len(docs[r.doc_id].encode("utf-8"))
            assert r.mime == "text/plain"


def test_clip_pairs_manifest_properties(spark, sf_dir):
    """Pair-manifest invariants: byte-identical payloads dedup to one row
    (lowest doc_id), the size gate holds, every pair aligns to an
    embedding row, and the split stamp is the SAME md5(doc_id) rule as
    pipeline_split_assign (recomputed in Python), so the manifest can
    never leak a pair across its document's split."""
    import hashlib

    from simple_query_engine_spark.operators.curation import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
    )
    from simple_query_engine_spark.operators.multimodal import (
        CLIP_MIN_BYTES,
        q_multimodal_clip_pairs,
    )

    rows = q_multimodal_clip_pairs(spark, sf_dir).collect()
    assert rows
    digests = [r.digest for r in rows]
    assert len(digests) == len(set(digests))  # exact dedup held
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    vec_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    by_digest_min = {}
    for did, t in texts.items():
        d = hashlib.md5(t.encode()).hexdigest()
        if d not in by_digest_min or did < by_digest_min[d]:
            by_digest_min[d] = did
    for r in rows:
        assert r.n_bytes >= CLIP_MIN_BYTES
        assert r.doc_id in vec_ids  # aligned to an embedding row
        assert by_digest_min[r.digest] == r.doc_id  # lowest-id keeper
        bucket = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % 100
        want = (
            "train"
            if bucket < SPLIT_TRAIN_PCT
            else ("val" if bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT else "test")
        )
        assert r.split == want, r.doc_id
    # expected membership: every non-dup, gated, embedded doc is present
    expected = {
        did
        for did, t in texts.items()
        if len(t.encode()) >= CLIP_MIN_BYTES
        and by_digest_min[hashlib.md5(t.encode()).hexdigest()] == did
        and did in vec_ids
    }
    assert {r.doc_id for r in rows} == expected


class TestPpmCodec:
    """VERDICT r13 item 4: the dependency-free raster codec."""

    def test_roundtrip(self):
        from simple_query_engine_spark.functions.ppm import decode_ppm, encode_ppm

        rgb = bytes(range(256)) * 3  # 16x16x3 = 768
        payload = encode_ppm(16, 16, rgb)
        assert payload.startswith(b"P6\n16 16\n255\n")
        assert decode_ppm(payload) == (16, 16, rgb)

    def test_header_comments_and_whitespace(self):
        from simple_query_engine_spark.functions.ppm import decode_ppm

        rgb = bytes(6)  # 2x1
        payload = b"P6\n# a comment\n 2\t1 # trailing\n255\n" + rgb
        assert decode_ppm(payload) == (2, 1, rgb)

    def test_rejects_bad_magic_short_raster_and_maxval(self):
        import pytest

        from simple_query_engine_spark.functions.ppm import decode_ppm, encode_ppm

        with pytest.raises(ValueError, match="magic"):
            decode_ppm(b"P5\n1 1\n255\n\x00")
        with pytest.raises(ValueError, match="raster holds"):
            decode_ppm(b"P6\n2 2\n255\n" + bytes(5))
        with pytest.raises(ValueError, match="maxval"):
            decode_ppm(b"P6\n1 1\n65535\n" + bytes(3))
        with pytest.raises(ValueError, match="needs"):
            encode_ppm(2, 2, bytes(3))

    def test_resize_box_mean_exact(self):
        import numpy as np

        from simple_query_engine_spark.functions.ppm import (
            decode_ppm,
            encode_ppm,
            resize_ppm,
        )

        # 4x4 image of known blocks: each 2x2 cell pools to its floor-mean.
        px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        small = resize_ppm(encode_ppm(4, 4, px.tobytes()), 2)
        w, h, rgb = decode_ppm(small)
        assert (w, h) == (2, 2)
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(2, 2, 3)
        want = (
            px.reshape(2, 2, 2, 2, 3).astype(np.int64).sum(axis=(1, 3)) // 4
        ).astype(np.uint8)
        assert (got == want).all()

    def test_decode_image_routes_ppm_and_stubs_the_rest(self):
        import pytest

        from simple_query_engine_spark.functions.ppm import encode_ppm
        from simple_query_engine_spark.operators.multimodal import decode_image

        payload = encode_ppm(2, 2, bytes(12))
        assert decode_image(payload) == (2, 2, bytes(12))
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG....")


class TestPpmProperties:
    """Hypothesis coverage for the dependency-free raster codec: the
    example tests pin known shapes; these pin the ALGEBRA (roundtrip
    identity, comment tolerance, resize bounds/exactness) over arbitrary
    dimensions and payloads."""

    def test_roundtrip_identity_any_dims(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from simple_query_engine_spark.functions.ppm import decode_ppm, encode_ppm

        @settings(max_examples=200, deadline=None)
        @given(
            w=st.integers(1, 24),
            h=st.integers(1, 24),
            data=st.data(),
        )
        def run(w, h, data):
            rgb = bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
                    )
                )
            )
            assert decode_ppm(encode_ppm(w, h, rgb)) == (w, h, rgb)

        run()

    def test_header_comments_are_transparent(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from simple_query_engine_spark.functions.ppm import decode_ppm

        @settings(max_examples=100, deadline=None)
        @given(
            comment=st.text(
                alphabet=st.characters(
                    codec="ascii", exclude_characters="\n"
                ),
                max_size=20,
            )
        )
        def run(comment):
            rgb = bytes(range(12))
            payload = (
                b"P6\n#" + comment.encode("ascii") + b"\n2 2\n255\n" + rgb
            )
            assert decode_ppm(payload) == (2, 2, rgb)

        run()

    def test_resize_is_mean_bounded_and_deterministic(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from simple_query_engine_spark.functions.ppm import (
            decode_ppm,
            encode_ppm,
            resize_ppm,
        )

        @settings(max_examples=100, deadline=None)
        @given(side=st.sampled_from([1, 2, 4]), data=st.data())
        def run(side, data):
            w = h = 8
            rgb = bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
                    )
                )
            )
            src = encode_ppm(w, h, rgb)
            out = resize_ppm(src, side)
            assert resize_ppm(src, side) == out  # bit-reproducible
            ow, oh, orgb = decode_ppm(out)
            assert (ow, oh) == (side, side)
            # Every pooled channel value is bounded by its cell's min/max
            # (floor-mean property).
            bh, bw = h // side, w // side
            for cy in range(side):
                for cx in range(side):
                    for ch in range(3):
                        cell = [
                            rgb[((cy * bh + y) * w + (cx * bw + x)) * 3 + ch]
                            for y in range(bh)
                            for x in range(bw)
                        ]
                        got = orgb[(cy * side + cx) * 3 + ch]
                        assert min(cell) <= got <= max(cell)
                        assert got == sum(cell) // len(cell)

        run()
