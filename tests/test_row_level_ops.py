"""Layout guards on the paths that rewrite a warehouse table's rows:
vacuum_table (the batch log's merge) and overwrite_partitions (the
partitioned gold's dynamic overwrite).

Contract pinned here:
- the layout is decided from the committed manifests
  (`_batches.json` / `_partitions.json`), never by scanning dirnames:
  a stray key=value directory inside a batch-log table blocks nothing;
- a pre-manifest partition layout is refused by name on every read
  and rewrite path, also when a stray batch dir sits beside it;
- overwrite_partitions refuses a batch-log table up front;
- a first partition overwrite that dies at its commit point leaves
  no `_partitions.json`, and a rerun converges.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest

from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.sources import commit_provider, sinks


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, device, status="ok"):
    ts = dt.datetime(2024, 3, day, 9)
    return (ts, device, ts, 30.0, 12.5, "standard", "vacuum", 0, status)


def _append(spark, warehouse, rows):
    df = spark.createDataFrame(rows, schemas.CLEANING_RECORDS)
    sinks.append_rows(df, warehouse, "cleaning_records")


def _partitions_committed(warehouse, name):
    return commit_provider.read_pointer(
        os.path.join(sinks.table_path(warehouse, name), sinks.PARTITIONS_MANIFEST)
    ) is not None


def test_stray_partition_dirname_does_not_block_dml(spark, warehouse):
    """Layout detection is decided from the AUTHORITATIVE signals
    (the committed manifests), not by scanning dirnames for '=': a
    stray key=value directory inside a normal batch-log table must not
    block its appends, reads or vacuum."""
    _append(spark, warehouse, [_rec(1, "dev-a"), _rec(2, "dev-b")])
    td = sinks.table_path(warehouse, "cleaning_records")
    os.makedirs(os.path.join(td, "stray=debris"))
    _append(spark, warehouse, [_rec(3, "dev-c")])
    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 2
    left = sinks.read_table(spark, warehouse, "cleaning_records")
    assert sorted(r["device_name"] for r in left.collect()) == [
        "dev-a", "dev-b", "dev-c"
    ]


def _strip_batch_manifest(warehouse, name, drop_pointer):
    """Turn a provisioned table dir into a manifest-less one (through
    the active commit backend, so it works on any backend)."""
    drop_pointer(
        os.path.join(sinks.table_path(warehouse, name), sinks.BATCHES_MANIFEST)
    )


def _plant_legacy_partition(spark, warehouse, name, tmp):
    """Parquet data directly under date=X, outside any version
    segment: the pre-manifest partition layout."""
    td = sinks.table_path(warehouse, name)
    leaf = os.path.join(td, "date=2024-03-01")
    os.makedirs(leaf, exist_ok=True)
    spark.createDataFrame(
        [("dev-a", 1)], "device_id string, n int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(td, tmp))
    for f in os.listdir(os.path.join(td, tmp)):
        if f.endswith(".parquet"):
            os.replace(os.path.join(td, tmp, f), os.path.join(leaf, f))
    shutil.rmtree(os.path.join(td, tmp), ignore_errors=True)
    return td


def test_legacy_partition_dirs_without_batches_still_refused(
    spark, warehouse, drop_pointer
):
    """The pre-manifest gold layout -- key=value dirs holding data, no
    manifest at all -- is refused by name: no read or rewrite silently
    serves or replaces nothing from it."""
    _strip_batch_manifest(warehouse, "daily_summary", drop_pointer)
    _plant_legacy_partition(spark, warehouse, "daily_summary", ".tmp-legacy")
    with pytest.raises(ValueError, match="unsupported"):
        sinks.read_partitioned(spark, warehouse, "daily_summary")
    with pytest.raises(ValueError, match="unsupported"):
        sinks.read_table(spark, warehouse, "daily_summary")
    with pytest.raises(ValueError, match="unsupported"):
        sinks.vacuum_table(spark, warehouse, "daily_summary", 0)
    df = spark.createDataFrame(
        [("2024-03-02", "dev-b", 2)], "date string, device_id string, n int"
    )
    with pytest.raises(ValueError, match="unsupported"):
        sinks.overwrite_partitions(df, warehouse, "daily_summary", ["date"])
    assert not _partitions_committed(warehouse, "daily_summary")


def test_first_conversion_crash_leaves_no_layout_stamp(
    spark, warehouse, monkeypatch
):
    """`_partitions.json` is the partitioned layout's only marker and
    its commit point. A crash/fence in the commit window of a
    FIRST-TIME conversion leaves no marker on a table whose conversion
    never committed; a rerun then converges to a pointer-committed
    table."""
    df = spark.createDataFrame(
        [("2024-03-01", "dev-a", 1)], "date string, device_id string, n int"
    )

    def _boom():
        raise sinks.FencedWriterError("simulated fence at commit point")

    monkeypatch.setattr(sinks, "_check_fence", _boom)
    with pytest.raises(sinks.FencedWriterError):
        sinks.overwrite_partitions(df, warehouse, "daily_summary", ["date"])
    # the commit artifact does not exist: the table never converted
    assert not _partitions_committed(warehouse, "daily_summary")
    assert sinks.read_partitioned(spark, warehouse, "daily_summary").count() == 0
    monkeypatch.undo()
    sinks.overwrite_partitions(df, warehouse, "daily_summary", ["date"])
    assert _partitions_committed(warehouse, "daily_summary")
    got = sinks.read_partitioned(spark, warehouse, "daily_summary")
    assert got.count() == 1


def test_overwrite_partitions_refuses_batch_log_table(spark, warehouse):
    """A mistaken overwrite_partitions on a batch-log table refuses up
    front: its readers resolve _batches.json and would never see the
    partitions, and the table keeps its batch log intact."""
    _append(spark, warehouse, [_rec(1, "dev-a")])
    df = spark.createDataFrame([("2024-03-01", 1)], "date string, n int")
    with pytest.raises(ValueError, match="batch-log"):
        sinks.overwrite_partitions(
            df, warehouse, "cleaning_records", ["date"]
        )
    assert not _partitions_committed(warehouse, "cleaning_records")
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 1
    _append(spark, warehouse, [_rec(2, "dev-b")])
    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 2
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 2


def test_legacy_partition_data_with_stray_batch_still_refused(
    spark, warehouse, drop_pointer
):
    """A legacy partitioned table (data under date=X, no manifests)
    that also grew a stray batch dir must STILL be refused -- a read or
    vacuum of the batch log would silently skip the partition files.
    Conversely an EMPTY key=value dir keeps not blocking (covered by
    test_stray_partition_dirname_does_not_block_dml)."""
    _strip_batch_manifest(warehouse, "daily_summary", drop_pointer)
    td = _plant_legacy_partition(spark, warehouse, "daily_summary", ".tmp-leg2")
    os.makedirs(os.path.join(td, "batch-00000000000000000001-x"), exist_ok=True)
    with pytest.raises(ValueError, match="unsupported"):
        sinks.read_table(spark, warehouse, "daily_summary")
    with pytest.raises(ValueError, match="unsupported"):
        sinks.vacuum_table(spark, warehouse, "daily_summary", 0)
    with pytest.raises(ValueError, match="unsupported"):
        sinks.read_partitioned(spark, warehouse, "daily_summary")
