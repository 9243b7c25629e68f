"""Single-commit transaction for the streaming curation funnel
(VERDICT r6 #6 / r7 backlog #10).

``pipeline.mode_curate_stream`` writes THREE surfaces per ingest
batch: the MinHash index segment, the semantic index segment, and the
curated output dir. Before this module each surface committed with its
own rename, so a crash could leave the indexes advanced past an
unpublished batch -- correct only because every reader of that state
replayed through per-surface stored-pair records. This module makes
the batch a real transaction: all three surfaces stage fully
(invisible to every reader -- staging dirs match no ``batch-``/
``base-`` prefix), then ONE atomic hard-link of a commit record under
``out_dir/_txn/`` commits the batch id for all of them.

Protocol (classic write-ahead commit, the same roll-forward shape
Delta/Iceberg use for multi-file commits -- one small manifest is the
only thing that must be atomic):

1. STAGE -- each surface's content is fully written under its final
   parent's ``.staging/`` (writer-unique names, so a same-batch-id
   race never clobbers a peer's staging).
2. COMMIT -- a JSON record listing every (staged, final) pair is
   published via the commit seam's ``put_if_absent`` (local FS:
   temp + hard link; object store: conditional PUT) to
   ``_txn/commit-{batch_id}.json``. The record either exists after
   this line or it does not: THE commit point. A second writer racing the
   same batch id loses with ``ConcurrentWriterError`` (EEXIST), its
   staging intact for its own cleanup.
3. FINALIZE -- roll forward: rename each staged dir onto its final
   path, then unlink the record. Every step is idempotent (final
   already exists -> drop our staged copy; staged vanished + final
   exists -> a concurrent recovery won the rename), so ``recover``
   can re-run it after a crash at ANY point past the commit link.

All-or-nothing: before the link, no reader (index probe, curated
read, replay lookup) can see any of the batch; after it, recovery at
the next funnel entry / maintenance pass completes whatever renames
the crash interrupted. A commit record whose staged AND final are
both missing is real corruption (someone deleted staged data out from
under a committed transaction) and raises instead of guessing.
"""

from __future__ import annotations

import errno
import json
import os
import shutil

from roborock_data_pipeline_spark.sources import commit_provider

from roborock_data_pipeline_spark.operators.index_segments import (
    ConcurrentWriterError,
)

TXN_SUBDIR = "_txn"
RECORD_PREFIX = "commit-"


def txn_dir(out_dir: str) -> str:
    return os.path.join(out_dir, TXN_SUBDIR)


def record_path(out_dir: str, batch_id: str) -> str:
    return os.path.join(txn_dir(out_dir), f"{RECORD_PREFIX}{batch_id}.json")


def link_commit(
    out_dir: str, batch_id: str, surfaces: list[dict[str, str]]
) -> str:
    """THE commit point: atomically publish the transaction record.

    ``surfaces`` is ``[{"staged": ..., "final": ...}, ...]`` with every
    staged dir fully written. The record is hard-linked into place
    (never observably empty or partial -- the same temp+link discipline
    as ``writer_lock``'s pid publish); EEXIST means another writer
    committed this batch id first and raises ``ConcurrentWriterError``
    with this writer's staging untouched. Returns the record path."""
    tdir = txn_dir(out_dir)
    os.makedirs(tdir, exist_ok=True)
    record = record_path(out_dir, batch_id)
    payload = {
        "batch_id": batch_id,
        "surfaces": [
            {
                "staged": os.path.abspath(s["staged"]),
                "final": os.path.abspath(s["final"]),
            }
            for s in surfaces
        ],
    }
    token = commit_provider.BACKEND.put_if_absent(
        record, json.dumps(payload).encode()
    )
    if token is None:
        raise ConcurrentWriterError(
            f"funnel batch {batch_id!r} was already committed by a "
            "concurrent writer; this writer lost the race"
        )
    token.close()  # a commit record is permanent -- drop the pin only
    return record


def finalize(record: str) -> None:
    """Roll the committed transaction forward: rename every staged
    surface onto its final path, then retire the record. Idempotent --
    safe to re-run after a crash at any point past the commit link,
    concurrently with another recovery of the same record."""
    raw = commit_provider.read_pointer(record)
    if raw is None:
        return  # a concurrent recovery finished and retired it
    rec = json.loads(raw)
    from roborock_data_pipeline_spark.operators.index_segments import (
        ensure_manifest,
        register_segment,
    )

    for s in rec["surfaces"]:
        staged, final = s["staged"], s["final"]
        parent, dname = os.path.split(final.rstrip(os.sep))
        # a fresh surface gets its manifest BEFORE the rename, so a
        # crash in between leaves a pending surface next to a
        # manifest, never a manifest-less dir holding a segment
        ensure_manifest(parent)
        if os.path.isdir(final):
            # already rolled forward (or re-published); our staged
            # copy, if any, is redundant -- but the manifest
            # registration may still be pending (crash between the
            # rename and the pointer swap): re-register idempotently
            shutil.rmtree(staged, ignore_errors=True)
            register_segment(parent, dname)
            continue
        try:
            os.replace(staged, final)
        except OSError as exc:
            if exc.errno == errno.ENOENT and os.path.isdir(final):
                register_segment(parent, dname)
                continue  # a concurrent recovery won this rename
            if exc.errno == errno.ENOENT:
                raise RuntimeError(
                    f"funnel transaction {rec['batch_id']!r} is committed "
                    f"but surface {final!r} has neither its staged copy "
                    f"({staged!r}) nor a final publish -- staged data was "
                    "deleted out from under a committed transaction"
                ) from exc
            raise
        # manifest-layout surfaces become LIVE here: the txn record is
        # the transaction's commit point; this pointer swap is the
        # per-surface roll-forward (idempotent, replayed by recovery)
        register_segment(parent, dname)
    commit_provider.BACKEND.delete_pointer(record)


def recover(out_dir: str) -> int:
    """Roll forward every committed-but-unfinalized transaction.
    Called at funnel entry and at the start of funnel maintenance, so
    a crash mid-finalize heals at the next touch of the funnel.
    Returns the number of records finalized."""
    tdir = txn_dir(out_dir)
    # seam-native listing (r13: the record store may be an object
    # store, not a directory). Exact-shape match (ADVICE r12): only
    # `commit-*.json` is a committed record -- a staging temp
    # (dot-prefixed by the commit provider, but be robust to any
    # suffixed name) must NEVER be rolled forward as if its
    # transaction reached the commit point
    records = sorted(
        f
        for f in commit_provider.BACKEND.list_keys(tdir)
        if f.startswith(RECORD_PREFIX) and f.endswith(".json")
    )
    for f in records:
        finalize(os.path.join(tdir, f))
    return len(records)
