"""Incremental semantic dedup (SURVEY sec 2.K -- SemDeDup at steady
state; VERDICT r3 #7).

The batch operators (operators/similarity.py: blocked_pairs ->
q_semantic_dedup) dedup a corpus in one pass; a 100 TB ingest
pipeline instead maintains a persisted IVF index and processes each
new embedding batch against it:

1. TRAIN once -- ``create_semantic_index`` fits cell centroids and
   publishes them atomically; they are frozen metadata from then on
   (the standard IVF regime: retraining is an offline rebuild, not an
   ingest-path concern), so every batch assigns into a stable cell
   space and incremental results are reproducible.
2. ASSIGN the new batch to its nearest cells (broadcast of the kxd
   centroid table -- index metadata, never the corpus).
3. PAIR new vectors against (old union new) vectors of the same cell --
   candidate work is |new| x cell-occupancy, independent of corpus
   age. The join carries the same two 100 TB guards as
   ``blocked_pairs``: per-cell salting for parallelism and a
   cell-population cap (hash sub-split) bounding pair count at
   cap*|cell|.
4. EMIT each qualifying pair exactly once across all updates: the
   update that ingests a pair's later member returns it (new-new
   pairs ordered by vec_id; new-old pairs exist in one join direction
   only). Losers (the keep-lowest rule's higher ids) derive from the
   returned pairs.
5. PUBLISH the batch's (vec_id, embedding, cell, nrm) rows with one
   atomic directory rename -- same staged-rename contract as
   incremental_dedup. Replays are idempotent: a deterministic
   ``batch_id`` that is already published recomputes the same pair
   set against the index state that preceded it and does NOT
   re-publish.

Mirrors operators/incremental_dedup.py (MinHash side) so the two
incremental paths compose into one streaming curation funnel.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.functions.arrays import dot, norm
from roborock_data_pipeline_spark.sources import versioned_dir
from roborock_data_pipeline_spark.operators.index_segments import (
    carry_pairs,
    commit_base,
    gc_superseded,
    live_segments,
    publish_segment,
    next_base_gen,
    stored_pairs_path,
)
from roborock_data_pipeline_spark.operators.similarity import (
    BLOCK_CAP,
    N_SALTS,
    _nearest,
    build_ivf_index,
)

VEC_SCHEMA = "vec_id bigint, embedding array<float>, cell int, nrm double"


def create_semantic_index(
    spark: SparkSession, train_emb: DataFrame, index_dir: str
) -> None:
    """Train cell centroids on ``train_emb`` and publish them as the
    index's frozen metadata. r12 #1: the commit is a `_current.json`
    pointer swap through the commit-provider seam (the pre-r13 direct
    rename was non-atomic on object storage) -- an index is never
    visible without its centroids, and a crash mid-publish leaves the
    previous centroids (or nothing, detected by has_centroids) rather
    than a torn directory."""
    centroids, _ = build_ivf_index(train_emb)
    root = os.path.join(index_dir, "centroids")
    staged = versioned_dir.staging_dir(root)
    try:
        centroids.write.mode("overwrite").parquet(staged)
        versioned_dir.publish(root, staged)
    finally:
        # clean ONLY our staged dir (ADVICE r4 on the funnel applies
        # here too: nuking a shared staging root wholesale would
        # clobber a concurrent writer's staging)
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)


def has_centroids(index_dir: str) -> bool:
    """Whether the index has COMMITTED centroids (a crashed create's
    staging leftovers do not count -- callers must re-create)."""
    return versioned_dir.resolve(os.path.join(index_dir, "centroids")) is not None


def _centroids_live(index_dir: str) -> str:
    live = versioned_dir.resolve(os.path.join(index_dir, "centroids"))
    if live is None:
        raise FileNotFoundError(
            f"no committed centroids at {index_dir!r} -- run "
            "create_semantic_index first"
        )
    return live


def _batch_vectors(batch_dir: str) -> str:
    """A batch's vector table. Current layout: batch-{id}/vectors
    (pairs beside it). ADVICE r4: indexes published before the
    stored-pairs format kept vectors at the batch root -- fall back so
    pre-existing indexes stay readable (their REPLAY still fails with
    a clear rebuild message via stored_pairs_path, since the replay
    record genuinely does not exist)."""
    v = os.path.join(batch_dir, "vectors")
    return v if os.path.isdir(v) else batch_dir


def _vector_paths(index_dir: str) -> list[str]:
    """Live vector tables: the compacted base's (if any) plus every
    not-yet-compacted batch's."""
    base, batches = live_segments(index_dir)
    paths = [os.path.join(base, "vectors")] if base is not None else []
    return paths + [_batch_vectors(b) for b in batches]


def _assign(spark: SparkSession, emb: DataFrame, index_dir: str) -> DataFrame:
    """(vec_id, embedding, cell, nrm) for a batch: nearest frozen
    centroid per vector via a broadcast of the kxd metadata table."""
    cent = spark.read.parquet(_centroids_live(index_dir))
    cells = _nearest(
        emb.crossJoin(F.broadcast(cent)), "embedding", "cell", 1
    )
    return (
        emb.select("vec_id", "embedding")
        .join(cells, "vec_id")
        .withColumn("nrm", norm(F.col("embedding")))
    )


def stage_semantic_update(
    spark: SparkSession,
    new_emb: DataFrame,
    index_dir: str,
    threshold: float = 0.9,
    cap: int = BLOCK_CAP,
    batch_id: str | None = None,
) -> str:
    """Compute a batch's index segment WITHOUT publishing it -- the
    semantic twin of stage_minhash_update: the full
    update_semantic_index compute (centroid assignment, capped cell
    block join, cosine verify) materialized under a writer-unique
    ``.staging`` dir (``{vectors,pairs}``) invisible to readers.
    Returns the staged path; the CALLER owns the commit
    (``publish_segment``, or the funnel's single-record transaction in
    operators/funnel_txn) and failure cleanup."""
    batch_id = batch_id or uuid.uuid4().hex
    new_vec = _assign(spark, new_emb, index_dir).persist()
    batches = _vector_paths(index_dir)
    if batches:
        old_vec = spark.read.schema(VEC_SCHEMA).parquet(*batches)
        all_vec = old_vec.withColumn("is_new", F.lit(False)).unionByName(
            new_vec.withColumn("is_new", F.lit(True))
        )
    else:
        all_vec = new_vec.withColumn("is_new", F.lit(True))

    # cell-population cap over the CURRENT index state (old union new):
    # identical sub-split for both join sides within this update
    sizes = all_vec.groupBy("cell").agg(F.count("*").alias("_n"))
    keyed = (
        all_vec.join(F.broadcast(sizes), "cell")
        .withColumn(
            "subblk",
            F.pmod(
                F.xxhash64("vec_id"),
                F.greatest(
                    F.ceil(F.col("_n") / F.lit(cap)).cast("long"), F.lit(1)
                ),
            ).cast("int"),
        )
        .drop("_n")
    )
    a = (
        keyed.where("is_new")
        .withColumn(
            "salt", F.pmod(F.xxhash64("vec_id"), F.lit(N_SALTS)).cast("int")
        )
        .alias("a")
    )
    b = keyed.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    ).alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.subblk") == F.col("b.subblk"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            # new-new pairs: one direction; new-old: only a=new exists
            & (~F.col("b.is_new") | (F.col("a.vec_id") < F.col("b.vec_id"))),
        )
        .where(cos >= threshold)
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_id_1"),
            F.greatest("a.vec_id", "b.vec_id").alias("vec_id_2"),
            F.round(cos, 4).alias("cosine"),
        )
    )
    # The staged write MATERIALIZES the pairs before any commit, so a
    # failure never advances the index past an unemitted pair set --
    # and the pair set itself becomes part of the committed batch
    # (the replay source). No caching survives staging: after the
    # writes everything lives in the staged parquet, so nothing is
    # pinned in executor storage across a long-running ingest session
    # (r4 review: the old per-batch persists accumulated unboundedly).
    staged = os.path.join(
        index_dir, ".staging", f"batch-{batch_id}-{uuid.uuid4().hex[:8]}"
    )
    try:
        new_vec.write.mode("overwrite").parquet(os.path.join(staged, "vectors"))
        pairs.write.mode("overwrite").parquet(os.path.join(staged, "pairs"))
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    finally:
        new_vec.unpersist()
    return staged


def update_semantic_index(
    spark: SparkSession,
    new_emb: DataFrame,
    index_dir: str,
    threshold: float = 0.9,
    cap: int = BLOCK_CAP,
    batch_id: str | None = None,
) -> DataFrame:
    """Ingest an embedding batch and return the cosine>=threshold
    near-dup pairs (vec_id_1 < vec_id_2, cosine) involving at least
    one new vector -- each pair returned by exactly one update.

    Replay contract: each published batch stores THE PAIRS IT EMITTED
    alongside its vectors (batch-{id}/{vectors,pairs}, one atomic
    rename). Replaying a committed batch_id -- latest or not -- returns
    the stored pair set verbatim, never a recompute against index
    state that did not exist when the batch first ran (recomputing a
    non-latest batch against later batches would re-emit pairs those
    later updates already returned, breaking exactly-once). Commit is
    ONE atomic rename of the staged segment (writer-unique staging: a
    same-batch-id race is decided by the rename, never by two writers
    clobbering one staging dir). See module docstring for the rest of
    the protocol."""
    batch_id = batch_id or uuid.uuid4().hex
    batch_dir = os.path.join(index_dir, f"batch-{batch_id}")
    stored = stored_pairs_path(index_dir, batch_id)
    if stored is not None:  # committed replay (batch dir or compacted)
        return spark.read.parquet(stored)
    staged = stage_semantic_update(
        spark, new_emb, index_dir, threshold, cap, batch_id
    )
    try:
        publish_segment(staged, batch_dir)  # loud on a same-id race
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return spark.read.parquet(os.path.join(batch_dir, "pairs"))


def compact_semantic_index(
    spark: SparkSession, index_dir: str, n_files: int = 8
) -> int:
    """Merge all live segments (previous base + committed batches)
    into one base segment -- the semantic twin of
    compact_minhash_index (VERDICT r4 #3); see there for the
    commit/GC/replay contract. Vectors are repartitioned on cell
    (restoring cell co-location for the pair join) into ``n_files``
    files; the frozen centroids/ dir is metadata, not a segment, and
    is untouched. Commit is CAS-guarded and GC of the PREVIOUS
    compaction's superseded segments runs at ENTRY (grace window --
    see compact_minhash_index / index_segments). Returns the number
    of segments merged."""
    gc_superseded(index_dir)  # deferred cleanup from the LAST commit
    base, batches = live_segments(index_dir)
    n_input = len(batches) + (1 if base is not None else 0)
    if n_input <= 1:
        return 0
    gen = next_base_gen(index_dir)
    # writer-unique staging: racing compactions never share a staging
    # dir; the commit CAS decides the winner
    staged = os.path.join(
        index_dir, ".staging", f"base-{gen:06d}-{uuid.uuid4().hex[:8]}"
    )
    try:
        # vector paths derive from the SAME snapshot as the absorbed
        # list (a batch published mid-compaction stays live)
        vec_paths = (
            [os.path.join(base, "vectors")] if base is not None else []
        ) + [_batch_vectors(b) for b in batches]
        spark.read.schema(VEC_SCHEMA).parquet(*vec_paths).repartition(
            n_files, "cell"
        ).write.mode("overwrite").parquet(
            os.path.join(staged, "vectors")
        )
        absorbed = carry_pairs(staged, base, batches)
        commit_base(index_dir, staged, gen, absorbed)
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return n_input


def probe_semantic_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    threshold: float = 0.9,
    exclude_self: bool = False,
) -> DataFrame:
    """READ-ONLY semantic lookup: which indexed vectors does each
    probe embedding near-duplicate (cosine >= threshold)? Returns
    (probe_id, index_id, cosine) without ingesting -- the semantic
    twin of probe_minhash_index. Probes assign into the frozen cell
    space (broadcast centroids), join only against indexed vectors of
    the same cell, and change no state. Probe ids are EXTERNAL to the
    index namespace by default (ADVICE r5): no id-equality filter, so
    an id collision with an indexed vector still surfaces its (likely
    exact) match; callers RE-PROBING already-indexed vectors would
    get one trivial cosine-1.0 self row per vector (VERDICT r7 #5) --
    pass ``exclude_self=True`` to drop ``probe_id == index_id``
    rows. Concurrency contract (ADVICE
    r5): one ``live_segments`` snapshot, manifest-consistent across a
    compaction commit; superseded segments survive until the NEXT
    maintenance pass's GC, so probes finishing within one maintenance
    interval never lose a path mid-query (longer-lived readers:
    ``spark.sql.files.ignoreMissingFiles``). Probe-probe pairs are
    not this query."""
    batches = _vector_paths(index_dir)
    if not batches:
        raise ValueError(f"no index at {index_dir!r}")
    probe = _assign(spark, emb, index_dir)
    idx = spark.read.schema(VEC_SCHEMA).parquet(*batches)
    a, b = probe.alias("a"), idx.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    cond = F.col("a.cell") == F.col("b.cell")
    if exclude_self:
        # pre-join filter: the self pair always shares a cell and
        # always clears the threshold -- drop it before the dot product
        cond = cond & (F.col("a.vec_id") != F.col("b.vec_id"))
    return (
        a.join(b, cond)
        .where(cos >= threshold)
        .select(
            F.col("a.vec_id").alias("probe_id"),
            F.col("b.vec_id").alias("index_id"),
            F.round(cos, 4).alias("cosine"),
        )
    )


def rebuild_semantic_index(
    spark: SparkSession, index_dir: str, dest_dir: str
) -> int:
    """The offline rebuild the frozen-centroid regime defers to
    (module docstring: "retraining is an offline rebuild, not an
    ingest-path concern"): retrain cell centroids on the CURRENT live
    vector set and re-publish everything as a fresh index at
    ``dest_dir`` -- one ``rebuild`` batch whose pair set is EMPTY (the
    corpus was already curated when it entered the old index; its
    near-dup decisions are history, not facts to re-emit). Replay
    history does NOT carry over: the rebuilt index starts a fresh
    replay epoch, which is the point -- rebuild when drift makes the
    old cell space a bad fit, then swap directories at the caller's
    commit point. Returns the number of vectors republished."""
    batches = _vector_paths(index_dir)
    if not batches:
        raise ValueError(f"no index at {index_dir!r}")
    # retrain seeds = the CURRENT cell assignment: new centroids are
    # the means of what each cell actually holds now (a Lloyd refresh
    # over the drifted corpus), then every vector re-assigns into the
    # refreshed space
    vecs = spark.read.schema(VEC_SCHEMA).parquet(*batches).select(
        "vec_id", "embedding", F.col("cell").alias("label")
    )
    create_semantic_index(spark, vecs, dest_dir)
    assigned = _assign(spark, vecs.select("vec_id", "embedding"), dest_dir)
    empty_pairs = spark.createDataFrame(
        [], "vec_id_1 bigint, vec_id_2 bigint, cosine double"
    )
    staged = os.path.join(dest_dir, ".staging", "batch-rebuild")
    batch_dir = os.path.join(dest_dir, "batch-rebuild")
    try:
        assigned.write.mode("overwrite").parquet(
            os.path.join(staged, "vectors")
        )
        empty_pairs.write.mode("overwrite").parquet(
            os.path.join(staged, "pairs")
        )
        publish_segment(staged, batch_dir)
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return spark.read.parquet(os.path.join(batch_dir, "vectors")).count()


def semantic_losers(pairs: DataFrame) -> DataFrame:
    """Keep-lowest canonical rule: the loser set is the distinct
    higher-id member of every qualifying pair (the apply side is a
    broadcast anti join, as in q_semantic_dedup)."""
    return pairs.select(F.col("vec_id_2").alias("vec_id")).distinct()
