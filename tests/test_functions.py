"""Unit tests for functions/ on tiny in-memory frames."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dot_and_norm(spark):
    from roborock_data_pipeline_spark.functions.arrays import cosine, dot, norm

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>"
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("n"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row.d == 32.0
    assert abs(row.n - 14**0.5) < 1e-12
    assert abs(row.c - 32.0 / (14**0.5 * 77**0.5)) < 1e-12


def test_shingles(spark):
    from roborock_data_pipeline_spark.functions.text import shingles

    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    rows = df.select(shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0].s == ["a b c", "b c d"]
    assert rows[1].s == ["a b"]  # shorter than k → whole text


def test_fingerprint_order_insensitive(spark):
    from roborock_data_pipeline_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [("a b c", "c b a a"), ("a b c", "a b d")], "t1 string, t2 string"
    )
    rows = df.select(
        fingerprint(F.col("t1")).alias("f1"), fingerprint(F.col("t2")).alias("f2")
    ).collect()
    assert rows[0].f1 == rows[0].f2  # same vocab, order/repetition differ
    assert rows[1].f1 != rows[1].f2  # different vocab


def test_minhash_similarity_correlates(spark):
    """Signature agreement rate approximates jaccard."""
    from roborock_data_pipeline_spark.functions.hashing import minhash_signature
    from roborock_data_pipeline_spark.functions.text import shingles

    df = spark.createDataFrame(
        [(0, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
         (1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 zz"),
         (2, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9")],
        "id long, text string",
    )
    sigs = {
        r.id: r.sig
        for r in df.select(
            "id", minhash_signature(shingles(F.col("text"), 2)).alias("sig")
        ).collect()
    }
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[1])) / len(sigs[0])
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[2])) / len(sigs[0])
    assert agree_near > agree_far
    assert agree_far == 0.0


def test_simhash_hamming(spark):
    from roborock_data_pipeline_spark.functions.hashing import hamming64, simhash64
    from roborock_data_pipeline_spark.functions.text import distinct_tokens

    df = spark.createDataFrame(
        [("a b c d e f g h", "a b c d e f g x", "q r s t u v w z")],
        "t1 string, t2 string, t3 string",
    )
    row = df.select(
        simhash64(distinct_tokens(F.col("t1"))).alias("h1"),
        simhash64(distinct_tokens(F.col("t2"))).alias("h2"),
        simhash64(distinct_tokens(F.col("t3"))).alias("h3"),
    ).collect()[0]
    d_near = df.select(hamming64(F.lit(row.h1), F.lit(row.h2))).collect()[0][0]
    d_far = df.select(hamming64(F.lit(row.h1), F.lit(row.h3))).collect()[0][0]
    assert d_near < d_far


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    from roborock_data_pipeline_spark.operators.sql_suite import (
        q_approx_percentiles,
        q_percentiles,
    )

    exact = {r.event_type: (r.p50, r.p90) for r in q_percentiles(spark, sf_dir).collect()}
    approx = {
        r.event_type: (r.p50, r.p90) for r in q_approx_percentiles(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, (p50, p90) in exact.items():
        a50, a90 = approx[et]
        assert abs(a50 - p50) <= max(1.0, 0.05 * p50)
        assert abs(a90 - p90) <= max(1.0, 0.05 * p90)


def test_multimodal_stub_raises_without_fake():
    import pytest

    from roborock_data_pipeline_spark.operators.multimodal import (
        _decode_png_gray8,
        resize_image,
        sample_frames,
    )

    assert _decode_png_gray8(b"abc") is None  # not a PNG: no decode

    with pytest.raises(NotImplementedError):
        resize_image(b"abc", 64, 64)
    with pytest.raises(NotImplementedError):
        sample_frames(b"abc")


def test_multimodal_empty_media_matches_oracle(spark, sf_dir, tmp_path):
    """ADVICE r3: empty media must behave identically in Spark and the
    oracle — zero frames, empty resize digest, zero features. Runs the
    real oracle comparison on a copied vintage with one empty-text
    document appended (current testdata ships none, so the divergence
    was latent)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_harness import TABLE_NAMES, compare

    d = str(tmp_path / "emptyvintage")
    os.makedirs(d)
    for t in TABLE_NAMES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    extra = pa.table(
        {
            "doc_id": [10**9],
            "text": [""],
            "lang": ["en"],
            "source": ["synthetic"],
            "n_chars": [0],
        },
        schema=docs.schema,
    )
    pq.write_table(
        pa.concat_tables([docs, extra]), f"{d}/documents.parquet"
    )
    for q in ("q_media_frames", "q_media_resize", "q_multimodal_features"):
        problems = compare(q, spark, d)
        assert not problems, f"{q}: " + "; ".join(problems)


def test_resize_media_plumbing(spark):
    """The resize mapInPandas emits exactly w*h bytes per row,
    deterministically (nearest-neighbor strided resample)."""
    from roborock_data_pipeline_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, b"abcdefgh"), (2, b"xy"), (3, b"q")],
        "doc_id long, media binary",
    )
    rows = {r.doc_id: bytes(r.media) for r in resize_media(df, 2, 2).collect()}
    assert all(len(m) == 4 for m in rows.values())
    assert rows[1] == b"aceg"  # stride 2 over 8 source bytes
    assert rows[2] == b"xxyy"  # upsample repeats
    assert rows[3] == b"qqqq"
    again = {r.doc_id: bytes(r.media) for r in resize_media(df, 2, 2).collect()}
    assert rows == again


def test_sample_media_frames_plumbing(spark):
    """Frame sampling explodes one blob row into every-Nth fixed-size
    chunk rows with correct indices and a short tail frame."""
    from roborock_data_pipeline_spark.operators.multimodal import (
        sample_media_frames,
    )

    blob = bytes(range(200))
    df = spark.createDataFrame([(7, blob)], "doc_id long, media binary")
    rows = sorted(
        (r.frame_idx, bytes(r.frame))
        for r in sample_media_frames(df, chunk=64, every_n=3).collect()
    )
    # chunks: 0..3 (ceil(200/64)=4); kept k = 0, 3
    assert [idx for idx, _ in rows] == [0, 3]
    assert rows[0][1] == blob[0:64]
    assert rows[1][1] == blob[192:200]  # 8-byte tail frame


def test_hll_sketch_union_near_exact(spark, sf_dir):
    """Sketch-union rollup ≈ exact distinct (≤2% error), and the ALL
    row equals estimating over the union of all days' sketches."""
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.operators.aggregates import (
        q_hll_daily_users,
    )
    from roborock_data_pipeline_spark.sources.tables import load

    rows = {r.date: r.est_users for r in q_hll_daily_users(spark, sf_dir).collect()}
    exact = (
        load(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").alias("n"))
        .first()["n"]
    )
    assert abs(rows["ALL"] - exact) / exact <= 0.02
    assert len(rows) > 1  # per-day rows present alongside the rollup


def test_token_entropy_matches_reference(spark, sf_dir):
    """q_token_entropy equals a direct Python Shannon-entropy
    computation on a sample of documents."""
    import math
    from collections import Counter

    from roborock_data_pipeline_spark.operators.quality import q_token_entropy
    from roborock_data_pipeline_spark.sources.tables import load

    got = {
        r["doc_id"]: r
        for r in q_token_entropy(spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(25).collect()
    for doc in docs:
        toks = doc["text"].split(" ")
        c = Counter(toks)
        n = len(toks)
        ent = -sum((k / n) * math.log2(k / n) for k in c.values())
        r = got[doc["doc_id"]]
        assert r["n_tokens"] == n and r["n_distinct"] == len(c)
        assert abs(r["entropy_bits"] - ent) < 1e-5
        denom = math.log2(max(len(c), 2))
        assert abs(r["entropy_norm"] - ent / denom) < 1e-5
