"""Fault injection for every staged-rename publish (VERDICT r4 #8).

The atomic rename is load-bearing for each exactly-once claim in the
engine: warehouse appends, vacuum, overwrites and the versioned gold
snapshot. Two injected faults per surface:

- FAIL BETWEEN stage-write and ``os.replace`` (the publish rename
  itself dies): nothing may become visible, staging must be cleaned,
  and a plain retry must converge to the no-crash result.
- FAIL MID-WRITE (the Spark job writing the staged files dies): same
  postconditions. (sinks.append_rows mid-write is already pinned by
  test_atomic_sink.test_failed_append_publishes_nothing.)
"""

from __future__ import annotations

import os

import pytest



def _staging_empty(root):
    s = os.path.join(root, ".staging")
    return not os.path.isdir(s) or not os.listdir(s)


def _fail_replace_once(monkeypatch, match: str) -> dict:
    """Patch os.replace to raise ONCE for destinations under `match`
    (everything else passes through — Spark's own JVM-side file ops
    never route through Python's os anyway)."""
    real = os.replace
    state = {"fired": False}

    def bomb(src, dst, *a, **k):
        if match in str(dst) and not state["fired"]:
            state["fired"] = True
            raise OSError("injected failure before publish rename")
        return real(src, dst, *a, **k)

    monkeypatch.setattr("os.replace", bomb)
    return state


def test_vacuum_rename_fault_then_retry(spark, tmp_path, monkeypatch):
    """VERDICT r5 #5 chaos: the vacuum's base-publish rename dies →
    the batch log is untouched (every batch dir + every as-of still
    exact), staging clean; the retry vacuums cleanly with identical
    current-state rows."""
    import datetime as dt
    import time

    from roborock_data_pipeline_spark import schemas
    from roborock_data_pipeline_spark.sources import sinks

    wh = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, wh)
    rows = [
        (dt.datetime(2024, 2, 1, 12), "bot1", dt.datetime(2024, 2, 1, 6),
         40.0, 28.1, "vacuum", "auto", None, "completed"),
        (dt.datetime(2024, 2, 1, 12), "bot1", dt.datetime(2024, 2, 1, 9),
         55.0, 33.2, "vacuum", "auto", None, "completed"),
    ]
    for i in range(3):
        sinks.append_rows(
            spark.createDataFrame(rows[i % 2: i % 2 + 1],
                                  schemas.CLEANING_RECORDS),
            wh, "cleaning_records",
        )
    t_all = time.time_ns()
    before_batches = sinks.list_batches(wh, "cleaning_records")
    before_rows = sorted(map(tuple, sinks.read_table(
        spark, wh, "cleaning_records").collect()))

    state = _fail_replace_once(monkeypatch, sinks.VACUUM_BASE_SUFFIX)
    with pytest.raises(OSError, match="injected"):
        sinks.vacuum_table(spark, wh, "cleaning_records", retain_last_n=1)
    assert state["fired"]
    assert sinks.list_batches(wh, "cleaning_records") == before_batches
    assert _staging_empty(wh)
    monkeypatch.undo()

    assert sinks.vacuum_table(spark, wh, "cleaning_records",
                              retain_last_n=1) == 2
    assert sorted(map(tuple, sinks.read_table(
        spark, wh, "cleaning_records").collect())) == before_rows
    assert sorted(map(tuple, sinks.read_table_as_of(
        spark, wh, "cleaning_records", t_all).collect())) == before_rows


def test_append_rows_rename_fault_then_retry(spark, tmp_path, monkeypatch):
    """Warehouse append: rename dies → table byte-identical, staging
    clean; retry lands exactly one batch."""
    import datetime as dt

    from roborock_data_pipeline_spark import schemas
    from roborock_data_pipeline_spark.sources import sinks

    wh = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, wh)
    rows = [
        (dt.datetime(2024, 2, 1, 12), "bot1", dt.datetime(2024, 2, 1, 6),
         40.0, 28.1, "vacuum", "auto", None, "completed"),
    ]
    df = spark.createDataFrame(rows, schemas.CLEANING_RECORDS)

    state = _fail_replace_once(monkeypatch, wh)
    with pytest.raises(OSError, match="injected"):
        sinks.append_rows(df, wh, "cleaning_records")
    assert state["fired"]
    assert sinks.read_table(spark, wh, "cleaning_records").count() == 0
    assert _staging_empty(wh)
    monkeypatch.undo()

    sinks.append_rows(df, wh, "cleaning_records")
    assert sinks.read_table(spark, wh, "cleaning_records").count() == 1


def test_gold_snapshot_swap_fault_rolls_old_back(spark, tmp_path, monkeypatch):
    """Lifetime snapshot publish (r13: one `_current.json` pointer
    commit through the seam): a fault AT the commit point — the exact
    window where the pre-r13 two-rename swap could leave NO table —
    must leave the old snapshot fully serving, and the un-advanced
    in-snapshot watermark makes the retry re-fold the same batches."""
    import datetime as dt

    from roborock_data_pipeline_spark import pipeline, schemas
    from roborock_data_pipeline_spark.sources import commit_provider, sinks
    from roborock_data_pipeline_spark.sources import versioned_dir as vd

    w = str(tmp_path)
    sinks.setup_warehouse(spark, w)
    ts = dt.datetime(2024, 3, 1, 9)
    df = spark.createDataFrame(
        [(ts, "a", ts, 30.0, 10.0, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(df, w, "cleaning_records")
    pipeline.refresh_device_lifetime(spark, w)
    before = sorted(pipeline.read_device_lifetime(spark, w).collect())

    ts2 = dt.datetime(2024, 3, 2, 9)
    df2 = spark.createDataFrame(
        [(ts2, "a", ts2, 15.0, 5.5, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(df2, w, "cleaning_records")
    # fail exactly the pointer commit for the lifetime table's
    # `_current.json` (the new data dir is already NAMED but not live)
    table_dir = sinks.table_path(w, pipeline.LIFETIME_TABLE)
    pointer = os.path.join(table_dir, vd.CURRENT_POINTER)
    real_swap = commit_provider.BACKEND.swap_pointer
    state = {"fired": False}

    def bomb(path, data):
        if path == pointer and not state["fired"]:
            state["fired"] = True
            raise OSError("injected failure on snapshot publish")
        return real_swap(path, data)

    monkeypatch.setattr(commit_provider.BACKEND, "swap_pointer", bomb)
    with pytest.raises(OSError, match="injected"):
        pipeline.refresh_device_lifetime(spark, w)
    monkeypatch.undo()
    assert state["fired"]
    # old snapshot rolled back: readable, un-advanced
    assert sorted(pipeline.read_device_lifetime(spark, w).collect()) == before
    # retry folds the same batch and converges
    out = pipeline.refresh_device_lifetime(spark, w)
    assert out == {"new_batches": 1, "mode": "delta"}
    got = {r["device_name"]: r["total_clean_count"]
           for r in pipeline.read_device_lifetime(spark, w).collect()}
    assert got == {"a": 2}


def test_overwrite_rows_fault_rolls_old_back(spark, tmp_path, monkeypatch):
    """overwrite_rows (full gold rebuild): same old-or-new contract."""
    from roborock_data_pipeline_spark.sources import sinks

    w = str(tmp_path)
    sinks.setup_warehouse(spark, w)
    one = spark.createDataFrame(
        [("2024-03-01", 1, 10.0, 30, 10.0, 30.0)],
        sinks.WAREHOUSE_TABLES["daily_summary"],
    )
    sinks.overwrite_rows(one, w, "daily_summary")
    table_dir = sinks.table_path(w, "daily_summary")
    real = os.replace
    state = {"fired": False}

    def bomb(src, dst, *a, **k):
        # fires on the publish move of EITHER arm: the legacy
        # table-dir swap (dst == table_dir) or the v2 naming rename
        # of the invisible snapshot batch (dst under table_dir)
        if (
            str(dst).startswith(table_dir)
            and not state["fired"]
            and ".staging" in str(src)
        ):
            state["fired"] = True
            raise OSError("injected failure on overwrite publish")
        return real(src, dst, *a, **k)

    monkeypatch.setattr("os.replace", bomb)
    two = spark.createDataFrame(
        [("2024-03-02", 2, 20.0, 60, 10.0, 30.0)],
        sinks.WAREHOUSE_TABLES["daily_summary"],
    )
    with pytest.raises(OSError, match="injected"):
        sinks.overwrite_rows(two, w, "daily_summary")
    monkeypatch.undo()
    rows = sinks.read_table(spark, w, "daily_summary").collect()
    assert [r["date"] for r in rows] == ["2024-03-01"]  # old rolled back
    sinks.overwrite_rows(two, w, "daily_summary")  # retry converges
    rows = sinks.read_table(spark, w, "daily_summary").collect()
    assert [r["date"] for r in rows] == ["2024-03-02"]


def test_gold_snapshot_lost_put_on_memory_backend(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #5: the lifetime gold snapshot's `_current.json`
    commit with an ACKed-BUT-LOST PUT on the RENAME-FREE backend (the
    FaultInjecting twin is FS-based, so this protocol path was only
    exercised rename-full). commit_pointer's verified read-back must
    fail the refresh WHOLE (CommitLostError), the old snapshot must
    keep serving, and the un-advanced in-snapshot watermark makes the
    retry re-fold the same batch and converge."""
    import datetime as dt

    from roborock_data_pipeline_spark import pipeline, schemas
    from roborock_data_pipeline_spark.sources import commit_provider as cp
    from roborock_data_pipeline_spark.sources import sinks
    from roborock_data_pipeline_spark.sources import versioned_dir as vd

    b = cp.InMemoryObjectStoreBackend()
    monkeypatch.setattr(cp, "BACKEND", b)
    monkeypatch.setattr(cp, "_VERIFY_WAIT_S", 0.001)
    w = str(tmp_path)
    sinks.setup_warehouse(spark, w)
    ts = dt.datetime(2024, 3, 1, 9)
    df = spark.createDataFrame(
        [(ts, "a", ts, 30.0, 10.0, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(df, w, "cleaning_records")
    pipeline.refresh_device_lifetime(spark, w)
    before = sorted(pipeline.read_device_lifetime(spark, w).collect())

    ts2 = dt.datetime(2024, 3, 2, 9)
    df2 = spark.createDataFrame(
        [(ts2, "a", ts2, 15.0, 5.5, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(df2, w, "cleaning_records")
    table_dir = sinks.table_path(w, pipeline.LIFETIME_TABLE)
    pointer = os.path.join(table_dir, vd.CURRENT_POINTER)
    real_swap = b.swap_pointer
    state = {"fired": False}

    def lossy(path, data):
        if path == pointer and not state["fired"]:
            state["fired"] = True
            return  # ACKed, never applied — the lost-PUT mode
        return real_swap(path, data)

    monkeypatch.setattr(b, "swap_pointer", lossy)
    with pytest.raises(cp.CommitLostError):
        pipeline.refresh_device_lifetime(spark, w)
    assert state["fired"]
    # the lost commit failed the refresh WHOLE: old snapshot serving
    assert sorted(pipeline.read_device_lifetime(spark, w).collect()) == before
    # store recovered: the retry folds the same batch and converges
    monkeypatch.setattr(b, "swap_pointer", real_swap)
    out = pipeline.refresh_device_lifetime(spark, w)
    assert out == {"new_batches": 1, "mode": "delta"}
    got = {r["device_name"]: r["total_clean_count"]
           for r in pipeline.read_device_lifetime(spark, w).collect()}
    assert got == {"a": 2}
