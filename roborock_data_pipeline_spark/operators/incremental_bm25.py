"""Persisted incremental BM25 index (VERDICT r10 #2, probe layout r12).

``q_bm25_search`` (operators/text.py) is the ad-hoc, oracle-checked
twin: it re-tokenizes the corpus, recomputes document-frequency stats
and doc lengths, and rebuilds corpus-wide postings on every call -- at
100 TB that is a full re-tokenization per retrieval query, and a
contamination screen or seed-expansion loop runs retrieval
repeatedly. This module is the missing sibling of the incremental
MinHash/semantic indexes (operators/incremental_dedup.py:169 pattern):
BM25 state persisted once per ingest batch, probed many times.

Why BM25 state is exactly segment-shaped: every corpus-wide quantity
the score needs is MERGEABLE --

- ``df(term)``  = count of (term, doc) posting rows -> a sum over
  segments, computed at probe time from only the probed terms'
  postings (which the probe must read anyway to score);
- ``N`` and ``avgdl`` = (n_docs, sum_dl) per segment, summed.

Segment layout: TWO tables --

- ``postings/``  (term, doc_id, tf, dl) -- the inverted index with the
  doc length DENORMALIZED onto every posting row, so the probe is
  PURELY term-pruned: postings (term-filtered at the footer) plus the
  segments-count-sized stats table, nothing else. A separate doc-length
  table would need a per-probe join scanning n_docs rows --
  corpus-sized at 100 TB -- to fetch lengths for the handful of scored
  docs. The cost is one long per posting row (~8 bytes against a
  ~20+-byte row) paid at ingest, where the batch-local join is small.
- ``stats/``     one row (n_docs, sum_dl). Computed from the batch's
  doc lengths INCLUDING zero-token docs (they carry no posting rows
  but count toward N/avgdl -- exactly q_bm25_search's stats).

A segment with a separate ``doclens/`` table (an older layout) is
unsupported and refused by name.

Lifecycle (shared index_segments framework -- atomic publish,
generation-CAS compaction, absorbed manifest, deferred GC):

- :func:`update_bm25_index` -- stage the batch's tables fully
  invisible, publish with ONE atomic commit; committed batch ids
  replay as no-ops (idempotent re-ingest under the funnel's
  transaction record).
- :func:`probe_bm25_index` -- top-k docs for a query-term set against
  ONE live-segments snapshot; postings are term-pruned at the scan
  (compacted bases are term-sorted, so parquet row-group stats skip
  non-matching term ranges at the footer); scores equal
  ``q_bm25_search``'s to the committed 6dp contract
  (tests/test_bm25_index.py pins the equality on the same corpus).
- :func:`compact_bm25_index` -- merge live segments into one base:
  postings repartitioned + sorted on term (probe pruning), stats
  re-summed to one row. Readers superseded by the commit keep a full
  maintenance interval of grace (GC at the NEXT pass's entry, as
  everywhere in index_segments).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roborock_data_pipeline_spark.functions.text import tokens
from roborock_data_pipeline_spark.operators.index_segments import (
    commit_base,
    gc_superseded,
    is_committed,
    live_segments,
    next_base_gen,
    publish_segment,
)
from roborock_data_pipeline_spark.operators.text import BM25_B, BM25_K1

POST_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("tf", T.LongType(), False),
    T.StructField("dl", T.LongType(), False),
])
STATS_SCHEMA = T.StructType([
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("sum_dl", T.LongType(), False),
])


def _postings(docs: DataFrame) -> DataFrame:
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
        .select("term", F.col("doc_id").cast("long"), "tf")
    )


def _doclens(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens(F.col("text"))).cast("long").alias("dl"),
    )




def update_bm25_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> dict[str, int]:
    """Ingest a batch of NEW documents (doc_id, text) into the index.
    Appends only -- the caller's dedup gate (the curation funnel) is
    what keeps doc_ids unique, same contract as the MinHash index.
    Returns {"docs": n, "terms": distinct terms} for the batch.
    Replaying a committed ``batch_id`` is a no-op returning zeros --
    the idempotence the funnel's single commit point needs."""
    batch_id = batch_id or uuid.uuid4().hex
    if is_committed(index_dir, batch_id):
        return {"docs": 0, "terms": 0, "replayed": 1}
    staged = os.path.join(
        index_dir, ".staging", f"batch-{batch_id}-{uuid.uuid4().hex[:8]}"
    )
    dl = _doclens(new_docs)
    # denormalize dl onto the posting rows at ingest (batch-local
    # join) so every later probe is purely term-pruned
    post = _postings(new_docs).join(dl, "doc_id").select(
        "term", "doc_id", "tf", "dl"
    )
    # stats from the FULL doc-length set: zero-token docs carry no
    # posting rows but still count toward N/avgdl (q_bm25_search's
    # exact stats semantics)
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    try:
        post.write.mode("overwrite").parquet(os.path.join(staged, "postings"))
        stats.write.mode("overwrite").parquet(os.path.join(staged, "stats"))
        n_docs = spark.read.schema(STATS_SCHEMA).parquet(
            os.path.join(staged, "stats")
        ).first()
        n_terms = spark.read.schema(POST_SCHEMA).parquet(
            os.path.join(staged, "postings")
        ).select("term").distinct().count()
        publish_segment(staged, os.path.join(index_dir, f"batch-{batch_id}"))
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return {"docs": int(n_docs["n_docs"]), "terms": int(n_terms)}


def _snapshot(index_dir: str) -> list[str]:
    """One live_segments snapshot -> segment dirs, base first (the
    manifest-consistent read set every probe and compaction uses)."""
    base, batches = live_segments(index_dir)
    segs = ([base] if base is not None else []) + batches
    for s in segs:
        if os.path.isdir(os.path.join(s, "doclens")):
            raise ValueError(
                f"BM25 segment {s!r} keeps doc lengths in a separate "
                "doclens/ table: that layout is unsupported -- rebuild "
                "the index from the source corpus"
            )
    return segs


def _live_postings(spark: SparkSession, segs: list[str]) -> DataFrame:
    """(term, doc_id, tf, dl) across the live segments in one
    multi-path scan (term pruning intact)."""
    return spark.read.schema(POST_SCHEMA).parquet(
        *[os.path.join(s, "postings") for s in segs]
    )


def _corpus_stats(spark: SparkSession, segs: list[str]) -> DataFrame:
    return (
        spark.read.schema(STATS_SCHEMA)
        .parquet(*[os.path.join(s, "stats") for s in segs])
        .agg(
            F.sum("n_docs").cast("long").alias("n"),
            (
                F.sum("sum_dl").cast("double") / F.sum("n_docs")
            ).alias("avgdl"),
        )
    )


def probe_bm25_index(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    top_k: int = 10,
) -> DataFrame:
    """Top-k (doc_id, bm25) for a query-term set -- THE retrieval
    endpoint. No tokenization, no corpus scan: the ONLY data read is
    the postings pruned to the query terms (an isin filter pushed
    into the parquet scan; term-sorted compacted bases skip
    non-matching row groups at the footer) plus the
    segments-count-sized stats table -- doc lengths ride ON the pruned
    posting rows, so no corpus-sized doc-length scan ever
    runs. Scores match q_bm25_search's formula bit-for-bit at the
    committed 6dp rounding: idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    k1/b from operators/text.py."""
    if not terms:
        raise ValueError("probe_bm25_index needs at least one query term")
    segs = _snapshot(index_dir)
    if not segs:
        raise ValueError(f"no BM25 index at {index_dir!r}")
    post = _live_postings(spark, segs).where(
        F.col("term").isin(list(terms))
    )
    stats = _corpus_stats(spark, segs)
    dfreq = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    part = (
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top_k)
    )


def compact_bm25_index(
    spark: SparkSession, index_dir: str, n_files: int = 8
) -> int:
    """Merge all live segments into one base (per-ingest dirs grow
    unboundedly; every probe pays per-file opens). Postings are
    repartitioned AND SORTED on term so the base's parquet footers
    carry tight term min/max -- a probe's isin filter skips whole row
    groups; stats collapse to one row. Commit is the shared
    generation-CAS + atomic publish; superseded segments are GC'd at
    the NEXT pass's entry (reader grace window). Returns segments
    merged (0 = already compact)."""
    gc_superseded(index_dir)
    segs = _snapshot(index_dir)
    if len(segs) <= 1:
        return 0
    gen = next_base_gen(index_dir)
    staged = os.path.join(
        index_dir, ".staging", f"base-{gen:06d}-{uuid.uuid4().hex[:8]}"
    )
    try:
        (
            _live_postings(spark, segs)
            .repartition(n_files, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(staged, "postings"))
        )
        (
            spark.read.schema(STATS_SCHEMA)
            .parquet(*[os.path.join(s, "stats") for s in segs])
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("sum_dl").cast("long").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(staged, "stats"))
        )
        from roborock_data_pipeline_spark.operators.index_segments import (
            _absorbed_ids,
        )

        absorbed = []
        for seg in segs:
            dname = os.path.basename(seg)
            if dname.startswith("base-"):
                absorbed += _absorbed_ids(seg)
            else:
                absorbed.append(dname[len("batch-"):])
        commit_base(index_dir, staged, gen, absorbed)
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return len(segs)
