"""Keyed incremental view maintenance (pipeline.refresh_device_lifetime).

The delta-merge twin of the dated partition-swap refresh: per-device
count/sum partials from ONLY the new batches merge into a
|devices|-row snapshot; history is never rescanned. The contract
pinned here:

- equivalence with the full per-device recompute after interleaved
  appends and refreshes;
- the snapshot and its folded watermark publish in ONE rename — a
  re-run right after a refresh is a no-op (delta-merge must never
  replay a batch: replay = double count);
- a vacuum base newer than the watermark breaks the delta property →
  that refresh falls back to a full recompute and stays correct;
- stored sums are unrounded (mergeable); rounding is presentation.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from roborock_data_pipeline_spark import pipeline, schemas
from roborock_data_pipeline_spark.sources import sinks


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, device, area, minutes):
    ts = dt.datetime(2024, 3, day, 9)
    return (ts, device, ts, minutes, area, "standard", "vacuum", 0, "ok")


def _append(spark, warehouse, rows):
    df = spark.createDataFrame(rows, schemas.CLEANING_RECORDS)
    sinks.append_rows(df, warehouse, "cleaning_records")


def _expected(spark, warehouse):
    recs = sinks.read_table(spark, warehouse, "cleaning_records")
    return sorted(
        recs.groupBy("device_name")
        .agg(
            F.count("*").alias("total_clean_count"),
            F.round(F.sum("area_sqm"), 2).alias("total_clean_area"),
            F.sum("duration_minutes").cast("long").alias("total_clean_time"),
        )
        .collect()
    )


def _got(spark, warehouse):
    return sorted(pipeline.read_device_lifetime(spark, warehouse).collect())


def test_delta_merge_matches_full_recompute(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "a", 10.0, 30.0), _rec(1, "b", 20.5, 45.0)])
    out = pipeline.refresh_device_lifetime(spark, warehouse)
    assert out == {"new_batches": 1, "mode": "full"}  # first run seeds
    assert _got(spark, warehouse) == _expected(spark, warehouse)

    # two more batches: existing devices grow, a new device appears
    _append(spark, warehouse, [_rec(2, "a", 5.5, 15.0)])
    _append(spark, warehouse, [_rec(3, "c", 7.25, 20.0), _rec(3, "a", 2.0, 10.0)])
    out = pipeline.refresh_device_lifetime(spark, warehouse)
    assert out == {"new_batches": 2, "mode": "delta"}
    assert _got(spark, warehouse) == _expected(spark, warehouse)


def test_rerun_is_noop_not_double_count(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "a", 10.0, 30.0)])
    pipeline.refresh_device_lifetime(spark, warehouse)
    rows = _got(spark, warehouse)
    # the folded watermark published atomically WITH the snapshot:
    # an immediate re-run sees nothing new
    assert pipeline.refresh_device_lifetime(spark, warehouse) == {
        "new_batches": 0,
        "mode": "noop",
    }
    assert _got(spark, warehouse) == rows


def test_vacuum_base_triggers_full_recompute(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "a", 10.0, 30.0)])
    pipeline.refresh_device_lifetime(spark, warehouse)
    _append(spark, warehouse, [_rec(2, "a", 5.5, 15.0)])
    # the base absorbs BOTH batches (one already folded) — folding it
    # as a delta would double-count device a
    sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    out = pipeline.refresh_device_lifetime(spark, warehouse)
    assert out["mode"] == "full"
    assert _got(spark, warehouse) == _expected(spark, warehouse)
    # and the run AFTER the fallback is delta-sized again
    _append(spark, warehouse, [_rec(3, "b", 1.0, 5.0)])
    out = pipeline.refresh_device_lifetime(spark, warehouse)
    assert out == {"new_batches": 1, "mode": "delta"}
    assert _got(spark, warehouse) == _expected(spark, warehouse)


def test_snapshot_stores_unrounded_sums(spark, warehouse):
    # three values whose ROUNDED partial sums would drift: 0.004 + 0.004
    # rounds to 0.0 each step but 0.01 in one sum
    _append(spark, warehouse, [_rec(1, "a", 0.004, 1.0)])
    pipeline.refresh_device_lifetime(spark, warehouse)
    _append(spark, warehouse, [_rec(2, "a", 0.004, 1.0)])
    pipeline.refresh_device_lifetime(spark, warehouse)
    got = {r["device_name"]: r["total_clean_area"] for r in _got(spark, warehouse)}
    assert got["a"] == 0.01  # round(0.008, 2), not round(0.0 + 0.0)


def test_noop_records_proven_bases_on_the_memory_backend(
    spark, tmp_path, monkeypatch
):
    """A noop refresh that proves an in-band vacuum base folded commits
    that proof through the commit seam; the next read of the state
    must see it on the in-memory object store too, not only the state
    file its snapshot published with."""
    from roborock_data_pipeline_spark.sources import commit_provider

    monkeypatch.setattr(
        commit_provider, "BACKEND",
        commit_provider.InMemoryObjectStoreBackend(),
    )
    wh = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, wh)
    _append(spark, wh, [_rec(1, "a", 10.0, 30.0)])
    _append(spark, wh, [_rec(2, "b", 20.5, 45.0)])
    assert pipeline.refresh_device_lifetime(spark, wh)["mode"] == "full"
    assert sinks.vacuum_table(spark, wh, "cleaning_records", 0) == 2
    (base,) = sinks.list_batches(wh, "cleaning_records")
    assert pipeline.refresh_device_lifetime(spark, wh)["mode"] == "noop"
    assert base in pipeline._read_gold(wh, pipeline.LIFETIME_TABLE)[1]["folded"]
    assert _got(spark, wh) == _expected(spark, wh)


def test_gold_maintenance_refreshes_then_vacuums(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "a", 10.0, 30.0)])
    _append(spark, warehouse, [_rec(2, "b", 20.5, 45.0)])
    out = pipeline.gold_maintenance(spark, warehouse, retain_last_n=0)
    assert out["daily"]["new_batches"] == 2
    assert out["lifetime"] == {"new_batches": 2, "mode": "full"}  # seed
    assert out["vacuumed"]["cleaning_records"] == 2
    assert _got(spark, warehouse) == _expected(spark, warehouse)
    # refresh-before-vacuum keeps later runs delta-sized: the base is
    # stamped at-or-below the watermarks, so only the new append folds
    _append(spark, warehouse, [_rec(3, "a", 5.5, 15.0)])
    out = pipeline.gold_maintenance(spark, warehouse, retain_last_n=0)
    assert out["lifetime"] == {"new_batches": 1, "mode": "delta"}
    assert out["daily"] == {"new_batches": 1, "dates_refreshed": 1}
    assert _got(spark, warehouse) == _expected(spark, warehouse)
    daily = sorted(
        pipeline.read_daily_summary(spark, warehouse).collect(),
        key=lambda r: r["date"],
    )
    assert [r["date"] for r in daily] == ["2024-03-01", "2024-03-02", "2024-03-03"]
