"""Dedup ladder properties beyond the oracle check."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_minhash_covers_blocked_jaccard(spark, sf_dir):
    """LSH candidates must cover the blocked-jaccard ground truth:
    every pair the exact (blocked) query finds at >= 0.6 should be
    found by the minhash query too (32 perms / 16 bands → collision
    prob ≈ 0.999 at jaccard 0.6, deterministic given fixed seeds)."""
    from roborock_data_pipeline_spark.operators.dedup import (
        q_dedup_minhash,
        q_near_dup_jaccard,
    )

    truth = {
        (r.doc_id_1, r.doc_id_2)
        for r in q_near_dup_jaccard(spark, sf_dir).where(F.col("jaccard") >= 0.6).collect()
    }
    found = {
        (r.doc_id_1, r.doc_id_2) for r in q_dedup_minhash(spark, sf_dir).collect()
    }
    missed = truth - found
    assert not missed, f"minhash missed {len(missed)}/{len(truth)} pairs: {sorted(missed)[:5]}"


def test_exact_dedup_is_idempotent(spark, sf_dir):
    """Reference core invariant (state_manager.py:66-69): dedup twice
    == dedup once."""
    from roborock_data_pipeline_spark.operators.dedup import q_dedup_exact

    once = q_dedup_exact(spark, sf_dir)
    twice = once.groupBy("text_hash").agg(
        F.min("keep_doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )
    assert twice.where(F.col("n_copies") > 1).count() == 0


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    """Simhash pairs at hamming<=8 should share vocabulary — spot-check
    precision with an exact token-set jaccard join. (This corpus has
    high background vocab overlap, so the bar is modest.)"""
    from roborock_data_pipeline_spark.functions.text import distinct_tokens
    from roborock_data_pipeline_spark.operators.dedup import q_dedup_simhash
    from roborock_data_pipeline_spark.sources.tables import load

    pairs = q_dedup_simhash(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", distinct_tokens(F.col("text")).alias("tok")
    )
    joined = (
        pairs.join(docs.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("tok", "tok1"), "doc_id_1")
        .join(docs.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed("tok", "tok2"), "doc_id_2")
        .withColumn(
            "jac",
            F.size(F.array_intersect("tok1", "tok2"))
            / (F.size("tok1") + F.size("tok2") - F.size(F.array_intersect("tok1", "tok2"))),
        )
    )
    rows = joined.select("jac").collect()
    if rows:  # precision: at least half the simhash pairs are real near-dups
        good = sum(1 for r in rows if r.jac >= 0.4)
        assert good >= len(rows) / 2


def test_approx_distinct_error_bound(spark, sf_dir):
    from roborock_data_pipeline_spark.operators.aggregates import (
        q_approx_distinct,
        q_count_distinct,
    )

    exact = q_count_distinct(spark, sf_dir).collect()[0]
    approx = q_approx_distinct(spark, sf_dir).collect()[0]
    assert abs(approx.n_devices - exact.n_devices) <= max(2, 0.02 * exact.n_devices)
    assert abs(approx.n_states - exact.n_states) <= max(1, 0.02 * exact.n_states)

