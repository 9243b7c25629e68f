"""Streaming near-dup pairs with BOUNDED state (VERDICT r10 #5).

A raw streaming caller who hands ``blocked_pairs`` an unbounded
embedding stream gets the banded stream-stream self-join -- correct,
but its join state store retains every input row for the life of the
query (xbands xsalt replicas): fine for a finite backfill, fatal for
a production feed (the r10 self-review documented exactly this).

THIS module is the production entry point for "emit cos>=t pairs as
vectors arrive": the curation funnel's ``foreachBatch`` pattern
promoted to a first-class near-dup-pairs surface. Each micro-batch
runs the BATCH pair engine against the persisted semantic index
(operators/incremental_semdedup) -- newxnew pairs within the batch,
newxindexed pairs against everything ingested before it -- and the
index absorbs the batch. Properties the stream-stream form cannot
give:

- ZERO streaming state: foreachBatch runs batch jobs, so the state
  store holds nothing (the test pins ``stateOperators == []`` across
  >=3 batches) -- corpus memory lives in the INDEX, on disk,
  compactable, probe-pruned, instead of in executor state forever;
- exactly-once pair emission under crash/replay: the epoch id is the
  index batch id, and a replayed epoch returns its committed pair
  set verbatim (the index's stored-pairs replay contract) while the
  pair sink's epoch-named publish is idempotent;
- completeness: every qualifying pair is emitted exactly once, in
  the batch its LATER member arrives (union over batches == the
  one-shot batch run on the whole corpus -- pinned by test).

Setup contract: the index must exist (``create_semantic_index`` on a
training sample -- frozen centroids are what make cell assignment
stable across batches).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from roborock_data_pipeline_spark.operators.incremental_semdedup import (
    update_semantic_index,
)
from roborock_data_pipeline_spark.operators.similarity import BLOCK_CAP
from roborock_data_pipeline_spark.sources import commit_provider

EPOCHS_MANIFEST = "_epochs.json"
EPOCHS_LOCK_TTL_S = 60.0


def _epochs_manifest(pairs_dir: str) -> dict | None:
    """Committed epoch manifest, or None for an absent or empty pairs
    dir. Present-but-corrupt raises (the listing fallback would
    resurrect uncommitted orphan dirs); so does a manifest-less dir
    holding epoch dirs -- the rename-committed layout is unsupported."""
    import json

    raw = commit_provider.read_pointer(
        os.path.join(pairs_dir, EPOCHS_MANIFEST)
    )
    if raw is None:
        if os.path.isdir(pairs_dir) and any(
            d.startswith("epoch-") for d in os.listdir(pairs_dir)
        ):
            raise ValueError(
                f"pairs dir {pairs_dir!r} holds epoch dirs but no "
                f"{EPOCHS_MANIFEST}: the rename-committed layout is "
                "unsupported -- rebuild it by replaying the stream into "
                "a fresh dir"
            )
        return None
    try:
        m = json.loads(raw)
        return {"generation": int(m["generation"]),
                "epochs": list(m["epochs"])}
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt epoch manifest in {pairs_dir!r}: {exc}"
        ) from exc


def _commit_epochs(pairs_dir: str, epochs: list[str], gen: int) -> None:
    import json

    commit_provider.commit_pointer(
        os.path.join(pairs_dir, EPOCHS_MANIFEST),
        json.dumps(
            {"generation": gen, "epochs": sorted(set(epochs))}
        ).encode(),
    )

EMB_STREAM_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    T.StructField("label", T.IntegerType(), True),
])

PAIR_SCHEMA = T.StructType([
    T.StructField("vec_id_1", T.LongType(), False),
    T.StructField("vec_id_2", T.LongType(), False),
    T.StructField("cosine", T.DoubleType(), False),
])


def read_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All pairs emitted so far (one dir per committed epoch),
    resolved from `_epochs.json` -- one pointer read, no listing,
    object-store-safe."""
    m = _epochs_manifest(pairs_dir)
    dirs = [os.path.join(pairs_dir, d) for d in m["epochs"]] if m else []
    if not dirs:
        return spark.createDataFrame([], PAIR_SCHEMA)
    return spark.read.schema(PAIR_SCHEMA).parquet(*dirs)


def near_dup_pairs_stream(
    spark: SparkSession,
    emb_stream_dir: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    cap: int = BLOCK_CAP,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the bounded-state near-dup pair stream over a parquet
    file source of embeddings. Returns the started query
    (``availableNow``: drains the current source then stops -- rerun
    on a schedule for continuous ingest; the checkpoint makes reruns
    incremental)."""
    stream = spark.readStream.schema(EMB_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    emb_stream = stream.parquet(emb_stream_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = update_semantic_index(
            spark,
            batch_df,
            index_dir,
            threshold=threshold,
            cap=cap,
            batch_id=f"e{epoch_id:012d}",
        )
        dname = f"epoch-{epoch_id:012d}"
        dest = os.path.join(pairs_dir, dname)
        m = _epochs_manifest(pairs_dir)
        if m is not None and dname in m["epochs"]:
            return  # replayed epoch: pairs already published
        staged = os.path.join(
            pairs_dir, ".staging", f"epoch-{epoch_id}-{uuid.uuid4().hex[:8]}"
        )
        try:
            pairs.select("vec_id_1", "vec_id_2", "cosine").write.mode(
                "overwrite"
            ).parquet(staged)
            # The rename only NAMES the epoch dir (invisible -- readers
            # resolve the manifest); the COMMIT is one pointer swap
            # under the naming lock. A crashed attempt's orphan dir is
            # clobbered so the checkpoint replay converges.
            os.makedirs(pairs_dir, exist_ok=True)
            for d in os.listdir(pairs_dir):
                # sweep a killed epoch's undeleted trash (already out
                # of the epoch namespace; concurrent rmtree is safe)
                if d.startswith(".trash-"):
                    shutil.rmtree(
                        os.path.join(pairs_dir, d), ignore_errors=True
                    )
            with commit_provider.naming_lock(
                os.path.join(pairs_dir, ".lock-epochs"),
                f"pairs {pairs_dir!r} (epoch manifest)",
                EPOCHS_LOCK_TTL_S,
            ):
                cur = _epochs_manifest(pairs_dir)
                if cur is None:
                    # fresh dir: bootstrap an empty gen-0 manifest
                    # BEFORE the naming rename, so a crash between
                    # rename and commit leaves a detectable orphan
                    _commit_epochs(pairs_dir, [], 0)
                    cur = {"generation": 0, "epochs": []}
                if dname in cur["epochs"]:
                    return  # concurrent replay won
                if os.path.isdir(dest):
                    # crashed attempt's orphan: trash-rename inside
                    # the lock (metadata-only), delete after release
                    orphan_trash = os.path.join(
                        pairs_dir, f".trash-{uuid.uuid4().hex[:8]}"
                    )
                    try:
                        os.replace(dest, orphan_trash)
                    except OSError:
                        orphan_trash = None
                else:
                    orphan_trash = None
                os.replace(staged, dest)
                _commit_epochs(
                    pairs_dir,
                    cur["epochs"] + [dname],
                    cur["generation"] + 1,
                )
            if orphan_trash is not None:
                shutil.rmtree(orphan_trash, ignore_errors=True)
        finally:
            if os.path.exists(staged):
                shutil.rmtree(staged, ignore_errors=True)

    return (
        emb_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
