"""The layout contract: every surface is manifest-first, and an older
layout is refused by name.

- ``setup_warehouse`` provisions each table with its schema manifest
  and an empty generation-0 ``_batches.json`` (no Spark write, no
  part files), and both gold reads return an empty frame of their
  declared schema on a freshly provisioned warehouse;
- a table dir holding batch dirs or root part files but no manifest,
  a plain-stamp fold-state file, a pointer-less versioned root that
  holds data, and an old partitioned daily gold table each raise a
  ``ValueError`` that names the path — rows are never silently hidden
  by a read set that skips them.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest

from roborock_data_pipeline_spark import pipeline, schemas
from roborock_data_pipeline_spark.sources import sinks, versioned_dir


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    pipeline.mode_setup(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, device="dev-a", area=10.0, minutes=30.0):
    ts = dt.datetime(2024, 3, day, 9)
    return (ts, device, ts, minutes, area, "standard", "vacuum", 0, "ok")


def _append(spark, warehouse, rows):
    sinks.append_rows(
        spark.createDataFrame(rows, schemas.CLEANING_RECORDS),
        warehouse,
        "cleaning_records",
    )


def _refused(fn, path: str) -> None:
    with pytest.raises(ValueError, match="unsupported") as exc:
        fn()
    assert path in str(exc.value)


# --- manifest-first provisioning ------------------------------------


def test_setup_provisions_every_table_manifest_first(spark, warehouse):
    for name in sinks.WAREHOUSE_TABLES:
        td = sinks.table_path(warehouse, name)
        assert sinks._batches_manifest(td) == {  # noqa: SLF001
            "generation": 0, "live": [],
        }
        assert not [f for f in os.listdir(td) if not f.startswith((".", "_"))]
        assert sinks.describe_table(warehouse, name)["layout"] == (
            "batch-manifest"
        )
    sinks.setup_warehouse(spark, warehouse)  # idempotent
    td = sinks.table_path(warehouse, "cleaning_records")
    assert sinks._batches_manifest(td)["generation"] == 0  # noqa: SLF001


def test_gold_reads_on_a_fresh_warehouse_are_empty(spark, warehouse):
    daily_cols = pipeline.DAILY_SCHEMA.fieldNames()
    lifetime_cols = [
        "device_name", "total_clean_count", "total_clean_area",
        "total_clean_time",
    ]
    for _ in range(2):  # right after setup, then after no-op refreshes
        daily = pipeline.read_daily_summary(spark, warehouse)
        assert daily.columns == daily_cols and daily.collect() == []
        life = pipeline.read_device_lifetime(spark, warehouse)
        assert life.columns == lifetime_cols and life.collect() == []
        assert pipeline.refresh_daily_summary(spark, warehouse)[
            "new_batches"
        ] == 0
        assert pipeline.refresh_device_lifetime(spark, warehouse)[
            "mode"
        ] == "noop"


def test_gold_reads_keep_their_shape_once_populated(spark, warehouse):
    _append(spark, warehouse, [_rec(1, area=12.5), _rec(1, "dev-b")])
    pipeline.refresh_daily_summary(spark, warehouse)
    pipeline.refresh_device_lifetime(spark, warehouse)
    daily = pipeline.read_daily_summary(spark, warehouse)
    assert dict(daily.dtypes)["date"] == "string"
    assert [tuple(r) for r in daily.collect()] == [
        ("2024-03-01", 2, 22.5, 60, 11.25, 30.0)
    ]
    life = sorted(
        tuple(r) for r in pipeline.read_device_lifetime(spark, warehouse)
        .collect()
    )
    assert life == [("dev-a", 1, 12.5, 30), ("dev-b", 1, 10.0, 30)]


# --- older layouts are refused by name -------------------------------


def test_manifest_less_batch_log_refused(spark, warehouse, drop_pointer):
    _append(spark, warehouse, [_rec(1)])
    td = sinks.table_path(warehouse, "cleaning_records")
    drop_pointer(os.path.join(td, sinks.BATCHES_MANIFEST))
    for fn in (
        lambda: sinks.read_table(spark, warehouse, "cleaning_records"),
        lambda: sinks.list_batches(warehouse, "cleaning_records"),
        lambda: _append(spark, warehouse, [_rec(2)]),
        lambda: sinks.vacuum_table(spark, warehouse, "cleaning_records", 0),
        lambda: sinks.describe_table(warehouse, "cleaning_records"),
        lambda: sinks.warehouse_maintenance(spark, warehouse),
    ):
        _refused(fn, td)


def test_plain_stamp_fold_state_refused(spark, warehouse):
    _append(spark, warehouse, [_rec(1)])
    pipeline.refresh_daily_summary(spark, warehouse)
    pipeline.refresh_device_lifetime(spark, warehouse)
    daily_state, life_state = (
        os.path.join(
            pipeline._read_gold(warehouse, table)[0],  # noqa: SLF001
            pipeline.GOLD_STATE,
        )
        for table in (pipeline.DAILY_TABLE, pipeline.LIFETIME_TABLE)
    )
    # planted through the seam the states are read through, so the
    # refusal runs on every backend
    from roborock_data_pipeline_spark.sources import commit_provider as cp

    for path in (daily_state, life_state):
        cp.BACKEND.swap_pointer(path, b"00000000000000000042")
        cp.read_pointer(path)  # drain a possible modeled-stale read
    _refused(
        lambda: pipeline.refresh_daily_summary(spark, warehouse), daily_state
    )
    _refused(
        lambda: pipeline.refresh_device_lifetime(spark, warehouse), life_state
    )
    _refused(lambda: pipeline.fold_health(warehouse), daily_state)


def test_pointer_less_versioned_root_refused(tmp_path):
    root = str(tmp_path / "surface")
    os.makedirs(root)
    with open(os.path.join(root, "part-0.parquet"), "w") as fh:
        fh.write("old")
    _refused(lambda: versioned_dir.resolve(root), root)
    staged = versioned_dir.staging_dir(root)
    _refused(lambda: versioned_dir.publish(root, staged), root)
    assert os.path.exists(os.path.join(root, "part-0.parquet"))


def test_unversioned_partitions_refused(spark, warehouse):
    """The daily gold's retired layout -- ``date=...`` partition dirs
    under ``daily_summary_by_date``, no ``_current.json`` -- is refused
    by name on its read and its refresh."""
    td = sinks.table_path(warehouse, pipeline.DAILY_TABLE)
    old = spark.createDataFrame([("2024-01-01", 1)], "date string, n int")
    old.write.partitionBy("date").parquet(td)
    _refused(lambda: pipeline.read_daily_summary(spark, warehouse), td)
    _refused(lambda: pipeline.refresh_daily_summary(spark, warehouse), td)
