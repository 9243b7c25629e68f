"""Round-8 concurrency-correctness closure for the warehouse layer
(VERDICT r7 directives #1-#4, #7):

- writer_lock publishes the holder pid ATOMICALLY (temp-file +
  os.link), so a contender can never observe an empty lock file,
  judge a live lease stale, and steal it;
- _publish_stamp_ns is lock-guarded: concurrent appenders get
  distinct, strictly-increasing stamps (a tie would make a batch
  permanently `<=` an incremental refresh's watermark);
- a slow Spark write that publishes AFTER a refresh advanced the
  watermark still folds on the next refresh (publish-time stamping,
  the r7 fix, now regression-pinned);
- a vacuum crash between base publish and absorbed-dir cleanup
  double-counts nothing (the base's `_absorbed.json` makes leftovers
  non-live) and the next vacuum self-heals;
- NOT NULL enforcement holds on the gold rebuild and on the first
  partition overwrite of a table that has no schema manifest (the
  append door's checks, NOT NULL included, are pinned in
  test_schema_evolution.py);
- the dynamic partition overwrite commits every touched partition
  through ONE manifest rename — readers see all-old or all-new,
  never mixed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import threading

import pytest

from roborock_data_pipeline_spark import pipeline, schemas
from roborock_data_pipeline_spark.sources.commit_provider import (
    ConcurrentWriterError,
)
from roborock_data_pipeline_spark.sources import sinks


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, hour, device="dev-a", area=10.0, minutes=30.0):
    ts = dt.datetime(2024, 3, day, hour)
    return (ts, device, ts, minutes, area, "standard", "vacuum", 0, "ok")


def _append(spark, warehouse, rows):
    df = spark.createDataFrame(rows, schemas.CLEANING_RECORDS)
    sinks.append_rows(df, warehouse, "cleaning_records")


# ---------------------------------------------------------------- lock


def test_empty_lock_file_is_never_stolen(tmp_path):
    """The r7 race, pinned from the observable state: a contender that
    sees a pid-less lock must refuse loudly — with the old
    O_CREAT|O_EXCL-then-write acquire, this exact state was a LIVE
    holder mid-acquire, and stealing it let two vacuums interleave."""
    wh = str(tmp_path)
    lock = os.path.join(wh, ".lock-cleaning_records")
    with open(lock, "w") as fh:
        fh.write("")
    with pytest.raises(ConcurrentWriterError, match="no parsable pid"):
        with sinks.writer_lock(wh, "cleaning_records"):
            pass  # pragma: no cover - must not be reached
    # nothing was stolen: the lock file is intact
    assert os.path.exists(lock)
    with open(lock) as fh:
        assert fh.read() == ""


def test_lock_pid_is_published_atomically(tmp_path, monkeypatch):
    """At the instant the lock name appears (the os.link), the file
    already holds the full pid — there is no observable window where
    the content is empty or partial."""
    seen = {}
    orig_link = os.link

    def checking_link(src, dst, *a, **kw):
        if dst.endswith(".lock-t"):
            with open(src) as fh:
                seen["content"] = fh.read()
        return orig_link(src, dst, *a, **kw)

    monkeypatch.setattr(sinks.os, "link", checking_link)
    with sinks.writer_lock(str(tmp_path), "t"):
        assert seen["content"] == str(os.getpid())
    assert not os.path.exists(os.path.join(str(tmp_path), ".lock-t"))


def test_contender_storm_single_holder(tmp_path):
    """8 threads hammer acquire/release concurrently: at every instant
    at most one holds the lease, and no acquisition ever succeeds by
    stealing a live one (the critical-section counter never sees 2)."""
    wh = str(tmp_path)
    active = []
    max_active = []
    guard = threading.Lock()
    wins = []

    def worker():
        for _ in range(30):
            try:
                with sinks.writer_lock(wh, "t"):
                    with guard:
                        active.append(1)
                        max_active.append(len(active))
                    with guard:
                        active.pop()
                    wins.append(1)
            except ConcurrentWriterError:
                pass

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert max(max_active) == 1  # never two holders
    assert len(wins) >= 1  # liveness: somebody got work done


# --------------------------------------------------------------- stamp


def test_publish_stamps_unique_and_increasing_across_threads():
    """ADVICE r7 medium: the read-modify-write bump is lock-guarded —
    two concurrent appenders (e.g. two streams' foreachBatch) must
    never emit the same stamp (a tie is a batch an incremental
    refresh's strict `>` watermark comparison skips forever)."""
    n_threads, per = 8, 4000
    out: list[list[int]] = [[] for _ in range(n_threads)]
    barrier = threading.Barrier(n_threads)

    def worker(i):
        barrier.wait()
        out[i] = [sinks._publish_stamp_ns() for _ in range(per)]

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    flat = [v for chunk in out for v in chunk]
    assert len(set(flat)) == n_threads * per  # no duplicates at all
    for chunk in out:  # per-thread strictly increasing
        assert all(a < b for a, b in zip(chunk, chunk[1:]))


def test_slow_append_publishes_past_watermark_then_folds(spark, warehouse):
    """Regression pin for the r7 publish-time-stamp fix: an append
    whose Spark WRITE is still running while a refresh folds newer
    batches and advances the watermark must publish with a stamp
    ABOVE that watermark — the next refresh folds it. (Staging-time
    stamping skipped such a batch permanently: silent undercount.)"""
    from pyspark.sql.readwriter import DataFrameWriter

    _append(spark, warehouse, [_rec(1, 9)])
    assert pipeline.refresh_device_lifetime(spark, warehouse)["mode"] == "full"

    orig = DataFrameWriter.parquet
    started, release = threading.Event(), threading.Event()
    armed = [True]

    def slow_parquet(self, path, *a, **kw):
        if armed[0] and "/.staging/cleaning_records-" in path:
            armed[0] = False
            started.set()
            assert release.wait(60)
        return orig(self, path, *a, **kw)

    DataFrameWriter.parquet = slow_parquet
    try:
        slow_df = spark.createDataFrame(
            [_rec(2, 10)], schemas.CLEANING_RECORDS
        )
        t = threading.Thread(
            target=sinks.append_rows,
            args=(slow_df, warehouse, "cleaning_records"),
        )
        t.start()
        assert started.wait(60)
        # while the slow append is mid-write: another batch lands and a
        # refresh folds it, advancing the watermark past it
        _append(spark, warehouse, [_rec(3, 11)])
        out = pipeline.refresh_device_lifetime(spark, warehouse)
        assert out == {"new_batches": 1, "mode": "delta"}
        # slow append publishes now — its stamp must exceed the watermark
        release.set()
        t.join(120)
        assert not t.is_alive()
    finally:
        release.set()
        DataFrameWriter.parquet = orig
    out = pipeline.refresh_device_lifetime(spark, warehouse)
    assert out == {"new_batches": 1, "mode": "delta"}  # folded, not skipped
    row = pipeline.read_device_lifetime(spark, warehouse).collect()[0]
    assert row["total_clean_count"] == 3  # nothing undercounted


# -------------------------------------------------------------- vacuum


def test_vacuum_crash_before_cleanup_double_counts_nothing(spark, warehouse):
    """VERDICT r7 #2: a crash between the vacuum base's publish and
    the absorbed-dir cleanup leaves base + absorbed dirs both on disk.
    The base's `_absorbed.json` (committed atomically WITH the base)
    makes the leftovers non-live: reads are exact, as-of is exact, and
    the next vacuum GCs them instead of re-merging duplicates in."""
    import time as _time

    for day in (1, 2, 3):
        _append(spark, warehouse, [_rec(day, 9)])
    t_all = _time.time_ns()
    table_dir = sinks.table_path(warehouse, "cleaning_records")

    orig_rmtree = shutil.rmtree
    with pytest.MonkeyPatch.context() as mp:

        def crash_before_cleanup(path, **kw):
            if f"{os.sep}batch-" in path:
                return None  # simulate the crash: cleanup never runs
            return orig_rmtree(path, **kw)

        mp.setattr(sinks.shutil, "rmtree", crash_before_cleanup)
        assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 3

    on_disk = [d for d in os.listdir(table_dir) if d.startswith("batch-")]
    assert len(on_disk) == 4  # base + 3 stranded absorbed dirs
    live = sinks.list_batches(warehouse, "cleaning_records")
    assert len(live) == 1 and live[0].endswith(sinks.VACUUM_BASE_SUFFIX)
    # no double count anywhere
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 3
    assert (
        sinks.read_table_as_of(
            spark, warehouse, "cleaning_records", t_all
        ).count()
        == 3
    )
    assert sinks.describe_table(warehouse, "cleaning_records")["batch_count"] == 1

    # next vacuum self-heals: leftovers GC'd, content converges
    _append(spark, warehouse, [_rec(4, 9)])
    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 2
    on_disk = [d for d in os.listdir(table_dir) if d.startswith("batch-")]
    assert len(on_disk) == 1  # stranded dirs physically gone
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 4


def test_incremental_refresh_ignores_vacuum_leftovers(spark, warehouse):
    """The refresh's new-batch discovery runs off list_batches: a
    stranded absorbed dir must be neither folded (double count) nor
    re-listed as new."""
    _append(spark, warehouse, [_rec(1, 9)])
    _append(spark, warehouse, [_rec(2, 9)])
    orig_rmtree = shutil.rmtree
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            sinks.shutil,
            "rmtree",
            lambda p, **kw: None
            if f"{os.sep}batch-" in p
            else orig_rmtree(p, **kw),
        )
        sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out["new_batches"] == 1  # the base only, not the leftovers
    gold = sorted(
        pipeline.read_daily_summary(spark, warehouse).collect(),
        key=lambda r: r["date"],
    )
    assert [(r["date"], r["total_cleanings"]) for r in gold] == [
        ("2024-03-01", 1),
        ("2024-03-02", 1),
    ]


# ------------------------------------------------ publish-door checks


def _all_nullable(schema):
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    )


def test_overwrite_rows_enforces_not_null(spark, warehouse):
    bad = spark.createDataFrame(
        [(None, 1, 1.0, 1, 1.0, 1.0)],
        _all_nullable(sinks.WAREHOUSE_TABLES["daily_summary"]),
    )
    with pytest.raises(Exception, match="non-nullable"):
        sinks.overwrite_rows(bad, warehouse, "daily_summary")


def test_first_overwrite_partitions_enforces_not_null(spark, warehouse):
    """The partitioned gold table has no schema manifest before (or
    after) its first overwrite; NOT NULL still holds there, from the
    code-pinned declaration, and the failed publish commits nothing."""
    name = pipeline.GOLD_PART_TABLE
    assert sinks.table_schema(warehouse, name) == (
        sinks.PARTITIONED_TABLES[name]
    )
    bad = spark.createDataFrame(
        [("2024-03-01", None, 20.0, 60, 10.0, 30.0)],
        _all_nullable(sinks.PARTITIONED_TABLES[name]),
    )
    with pytest.raises(Exception, match="non-nullable column 'total_cleanings'"):
        sinks.overwrite_partitions(bad, warehouse, name, ["date"])
    assert sinks.read_partitioned(spark, warehouse, name).collect() == []
    good = spark.createDataFrame(
        [("2024-03-01", 2, 20.0, 60, 10.0, 30.0)],
        sinks.PARTITIONED_TABLES[name],
    )
    sinks.overwrite_partitions(good, warehouse, name, ["date"])
    assert [
        r["total_cleanings"]
        for r in sinks.read_partitioned(spark, warehouse, name).collect()
    ] == [2]


# ------------------------------------- cross-partition atomic overwrite


def _daily(spark, rows):
    return spark.createDataFrame(rows, "d string, n int, v double")


def test_partition_overwrite_commit_is_all_or_nothing(spark, tmp_path):
    """VERDICT r6 #1 / r7 missing #1: a refresh crash mid-publish must
    leave EVERY date old (manifest untouched — the new version dirs
    are unreferenced and invisible); the re-run converges to all-new.
    No reader ever observes a mixed or missing set."""
    wh = str(tmp_path / "wh")
    sinks.overwrite_partitions(
        _daily(
            spark,
            [
                ("2024-01-01", 1, 10.0),
                ("2024-01-02", 2, 20.0),
                ("2024-01-03", 3, 30.0),
            ],
        ),
        wh,
        "daily",
        ["d"],
    )
    old = {
        (str(r.d), r.n)
        for r in sinks.read_partitioned(spark, wh, "daily").collect()
    }

    fix = _daily(spark, [("2024-01-02", 99, 99.0), ("2024-01-03", 98, 98.0)])
    orig_replace = os.replace
    with pytest.MonkeyPatch.context() as mp:

        def crash_at_commit(src, dst, *a, **kw):
            if dst.endswith(sinks.PARTITIONS_MANIFEST):
                raise OSError("simulated crash at the commit rename")
            return orig_replace(src, dst, *a, **kw)

        mp.setattr(sinks.os, "replace", crash_at_commit)
        with pytest.raises(OSError, match="simulated crash"):
            sinks.overwrite_partitions(fix, wh, "daily", ["d"])

    # every date still OLD — never mixed, never missing
    got = {
        (str(r.d), r.n)
        for r in sinks.read_partitioned(spark, wh, "daily").collect()
    }
    assert got == old

    # deterministic re-run converges: both touched dates flip together
    sinks.overwrite_partitions(fix, wh, "daily", ["d"])
    got = {
        (str(r.d), r.n)
        for r in sinks.read_partitioned(spark, wh, "daily").collect()
    }
    assert got == {("2024-01-01", 1), ("2024-01-02", 99), ("2024-01-03", 98)}


def test_partition_overwrite_keeps_reader_grace_version(spark, tmp_path):
    """Superseded versions are GC'd at the NEXT overwrite's entry, not
    at commit (a grace window): a reader that
    resolved the previous manifest keeps its files for a full
    maintenance interval."""
    wh = str(tmp_path / "wh")
    sinks.overwrite_partitions(
        _daily(spark, [("2024-01-01", 1, 10.0)]), wh, "daily", ["d"]
    )
    pinned = sinks.read_partitioned(spark, wh, "daily")  # resolves v1
    sinks.overwrite_partitions(
        _daily(spark, [("2024-01-01", 2, 20.0)]), wh, "daily", ["d"]
    )
    # v1 files still on disk: the pinned reader completes exactly
    assert [(str(r.d), r.n) for r in pinned.collect()] == [("2024-01-01", 1)]
    part_dir = os.path.join(wh, "daily", "d=2024-01-01")
    assert len(os.listdir(part_dir)) == 2  # v1 (grace) + v2 (live)
    # third overwrite: entry GC reclaims v1
    sinks.overwrite_partitions(
        _daily(spark, [("2024-01-01", 3, 30.0)]), wh, "daily", ["d"]
    )
    assert len(os.listdir(part_dir)) == 2  # v2 (grace) + v3 (live)
    got = [
        (str(r.d), r.n)
        for r in sinks.read_partitioned(spark, wh, "daily").collect()
    ]
    assert got == [("2024-01-01", 3)]
