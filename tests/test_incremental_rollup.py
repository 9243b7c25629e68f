"""Incremental gold-table maintenance (pipeline.refresh_daily_summary).

The 100 TB form of mode_daily_summary: the full rebuild rescans all of
history every run; the refresh does new-batch-sized discovery, a
range-pruned per-date recompute, and republishes the |dates|-row gold
snapshot with only the touched dates replaced. These tests pin the
contract:

- equivalence: after any append/refresh interleaving the gold
  snapshot equals the full rebuild's rollup;
- no-op: a refresh with no new batches touches nothing;
- crash convergence: a crash at the snapshot's commit leaves the old
  snapshot live, and the rerun folds the same batches and converges;
- vacuum interplay: a vacuum base newer than the watermark only
  over-approximates touched dates — never wrong;
- plan: the per-date recompute scan carries a pushed start_time range.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest

from roborock_data_pipeline_spark import pipeline, schemas
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


def _full_rollup_rows(spark, warehouse):
    recs = sinks.read_table(spark, warehouse, "cleaning_records")
    return sorted(
        pipeline._daily_rollup(recs).collect(), key=lambda r: r["date"]
    )


def _gold_rows(spark, warehouse):
    return sorted(
        pipeline.read_daily_summary(spark, warehouse).collect(),
        key=lambda r: r["date"],
    )


def test_incremental_matches_full_rebuild(spark, warehouse):
    # batch 1: two dates
    _append(spark, warehouse, [_rec(1, 9), _rec(1, 14, area=20.0), _rec(2, 9)])
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out == {"new_batches": 1, "dates_refreshed": 2}
    assert _gold_rows(spark, warehouse) == _full_rollup_rows(spark, warehouse)

    # batch 2 overlaps date 2 (its aggregate must be recomputed, not
    # double-counted) and adds date 3
    _append(spark, warehouse, [_rec(2, 18, area=5.5), _rec(3, 8)])
    # batch 3 in the same refresh window — multi-batch catch-up
    _append(spark, warehouse, [_rec(3, 20, minutes=12.0)])
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out == {"new_batches": 2, "dates_refreshed": 2}
    assert _gold_rows(spark, warehouse) == _full_rollup_rows(spark, warehouse)


def test_noop_without_new_batches(spark, warehouse):
    _append(spark, warehouse, [_rec(1, 9)])
    pipeline.refresh_daily_summary(spark, warehouse)
    rows = _gold_rows(spark, warehouse)
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out == {"new_batches": 0, "dates_refreshed": 0}
    assert _gold_rows(spark, warehouse) == rows


def test_noop_refresh_reads_its_state_back_on_the_memory_backend(
    spark, tmp_path, monkeypatch
):
    """The fold state commits through the commit seam, so it must read
    back through it: on the in-memory object store, where a pointer is
    not a file, a second refresh with nothing new folds nothing."""
    from roborock_data_pipeline_spark.sources import commit_provider

    monkeypatch.setattr(
        commit_provider, "BACKEND",
        commit_provider.InMemoryObjectStoreBackend(),
    )
    wh = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, wh)
    _append(spark, wh, [_rec(1, 9)])
    assert pipeline.refresh_daily_summary(spark, wh)["new_batches"] == 1
    assert pipeline.refresh_daily_summary(spark, wh) == {
        "new_batches": 0, "dates_refreshed": 0,
    }
    assert [r["total_cleanings"] for r in _gold_rows(spark, wh)] == [1]


def test_crash_between_swap_and_watermark_converges(spark, warehouse, monkeypatch):
    """A crash at the gold snapshot's commit (its `_current.json`
    pointer, which publishes data and fold state together): the old
    snapshot stays live, and the next refresh folds the same batches
    and converges. The crash is injected at the commit seam, so it
    holds on every backend."""
    from roborock_data_pipeline_spark.sources import commit_provider, versioned_dir

    _append(spark, warehouse, [_rec(1, 9), _rec(2, 9)])
    pipeline.refresh_daily_summary(spark, warehouse)
    old = _gold_rows(spark, warehouse)
    _append(spark, warehouse, [_rec(2, 20), _rec(3, 9)])
    pointer = os.path.join(
        sinks.table_path(warehouse, pipeline.DAILY_TABLE),
        versioned_dir.CURRENT_POINTER,
    )
    real = commit_provider.commit_pointer

    def crash(path, data):
        if path == pointer:
            raise OSError("injected crash at the snapshot commit")
        real(path, data)

    monkeypatch.setattr(commit_provider, "commit_pointer", crash)
    with pytest.raises(OSError, match="injected"):
        pipeline.refresh_daily_summary(spark, warehouse)
    assert _gold_rows(spark, warehouse) == old  # the old snapshot is live
    monkeypatch.setattr(commit_provider, "commit_pointer", real)
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out["new_batches"] == 1  # replayed
    assert _gold_rows(spark, warehouse) == _full_rollup_rows(spark, warehouse)
    # and the fold state is committed: next run is a no-op
    assert pipeline.refresh_daily_summary(spark, warehouse) == {
        "new_batches": 0,
        "dates_refreshed": 0,
    }


def test_vacuum_base_overapproximates_safely(spark, warehouse):
    _append(spark, warehouse, [_rec(1, 9), _rec(2, 9)])
    pipeline.refresh_daily_summary(spark, warehouse)
    _append(spark, warehouse, [_rec(2, 20), _rec(4, 7)])
    # vacuum merges ALL batches (folded + unfolded) into one base
    # stamped with the newest absorbed publish time — newer than the
    # watermark, so the refresh sees it as 'new' and re-derives dates
    # 1/2/4 instead of just 2/4. Over-approximation must stay correct.
    sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out["new_batches"] == 1
    assert out["dates_refreshed"] == 3
    assert _gold_rows(spark, warehouse) == _full_rollup_rows(spark, warehouse)


def test_rollup_scan_pushes_date_range(spark, warehouse):
    _append(spark, warehouse, [_rec(1, 9), _rec(2, 9), _rec(5, 9)])
    plan = (
        pipeline.rollup_for_dates(spark, warehouse, ["2024-03-01", "2024-03-02"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(start_time" in plan
    assert "LessThan(start_time" in plan


def test_backfill_beyond_residual_cap_skips_isin(spark, warehouse, monkeypatch):
    # a 3-date backfill with the cap forced below it: the residual
    # isin is dropped, the whole range recomputes — results identical
    _append(spark, warehouse, [_rec(1, 9), _rec(2, 9), _rec(5, 9)])
    monkeypatch.setattr(pipeline, "DATE_RESIDUAL_CAP", 2)
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out == {"new_batches": 1, "dates_refreshed": 3}
    assert _gold_rows(spark, warehouse) == _full_rollup_rows(spark, warehouse)
    def _plan(dates):
        return (
            pipeline.rollup_for_dates(spark, warehouse, dates)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    dates = ["2024-03-01", "2024-03-02", "2024-03-05"]
    assert " IN (" not in _plan(dates)  # above cap: no isin residual
    monkeypatch.setattr(pipeline, "DATE_RESIDUAL_CAP", 256)
    assert " IN (" in _plan(dates)  # below cap: exact membership kept
