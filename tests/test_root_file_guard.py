"""Root-file guard: a plain-parquet table (rows in root-level part
files, no batch manifest) is an unsupported pre-manifest layout.

Provisioning is manifest-first (setup_warehouse commits an empty
generation-0 ``_batches.json`` and writes no part files), so a table
dir that holds root part files but no manifest can only be an older
layout. These tests pin that it is refused by name on every path that
would otherwise commit a manifest over it and silently drop its root
rows — append, snapshot overwrite, vacuum — and that provisioned
tables never trip the guard.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import Row

from roborock_data_pipeline_spark.sources import sinks

pytestmark = pytest.mark.local_fs_only(
    "the plain-parquet root-file layout is a local-FS artifact "
    "constructed by planting part files in the table dir"
)

NAME = "cleaning_records"


def _mk(spark, i: int, n: int = 1):
    rows = [
        Row(
            timestamp=dt.datetime(2025, 1, 1, i % 24, j % 60),
            device_name=f"d{(i + j) % 3}",
            start_time=dt.datetime(2025, 1, 1, i % 24, j % 60),
            duration_minutes=float(i),
            area_sqm=float(i * 10 + j),
            clean_mode="auto",
            clean_way="std",
            error_code=None,
            task_status="ok",
        )
        for j in range(n)
    ]
    return spark.createDataFrame(
        rows, schema=sinks.WAREHOUSE_TABLES[NAME]
    )


@pytest.fixture()
def wh(tmp_path, spark):
    w = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, w)
    return w


def _plant_root_rows(spark, wh, i: int = 1, n: int = 5) -> None:
    """Fabricate the plain-parquet layout: data-bearing part files at
    the table root, no batch manifest."""
    td = sinks.table_path(wh, NAME)
    tmp = td + ".rootsrc"
    _mk(spark, i, n).write.mode("overwrite").parquet(tmp)
    k = sum(1 for f in os.listdir(td) if f.endswith(".parquet"))
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            os.replace(
                os.path.join(tmp, f),
                os.path.join(td, f"part-legacy-{k:05d}.parquet"),
            )
            k += 1
    shutil.rmtree(tmp)
    p = os.path.join(td, sinks.BATCHES_MANIFEST)
    if os.path.exists(p):
        os.unlink(p)


def _strip_manifest(wh) -> None:
    p = os.path.join(sinks.table_path(wh, NAME), sinks.BATCHES_MANIFEST)
    if os.path.exists(p):
        os.unlink(p)


def _rows(spark, wh) -> int:
    return sinks.read_table(spark, wh, NAME).count()


def test_vacuum_and_dml_refuse_on_mixed_legacy(spark, wh):
    for i in range(3):
        sinks.append_rows(_mk(spark, i), wh, NAME)
    _strip_manifest(wh)
    _plant_root_rows(spark, wh, i=7, n=2)
    td = sinks.table_path(wh, NAME)
    before = sorted(os.listdir(td))
    for mutate in (
        lambda: sinks.vacuum_table(spark, wh, NAME, 0),
        lambda: sinks.append_rows(_mk(spark, 9), wh, NAME),
        lambda: sinks.overwrite_rows(_mk(spark, 9), wh, NAME),
    ):
        with pytest.raises(ValueError, match="unsupported") as exc:
            mutate()
        assert td in str(exc.value)
    # nothing committed over the old layout, no data file touched
    assert sorted(os.listdir(td)) == before
    with pytest.raises(ValueError, match="unsupported"):
        _rows(spark, wh)


def test_provisioning_empties_do_not_trip_guard(spark, wh):
    # manifest-first provisioning writes no root part files at all,
    # only the schema manifest and an empty generation-0 batch log
    td = sinks.table_path(wh, NAME)
    assert not [f for f in os.listdir(td) if f.endswith(".parquet")]
    assert sinks._batches_manifest(td) == {  # noqa: SLF001
        "generation": 0, "live": [],
    }
    sinks.append_rows(_mk(spark, 1), wh, NAME)
    assert sinks._batches_manifest(td)["generation"] == 1  # noqa: SLF001
    assert _rows(spark, wh) == 1


def test_unreadable_root_file_refuses_loudly(spark, wh):
    # refused from the listing alone: the junk footer is never opened
    td = sinks.table_path(wh, NAME)
    with open(os.path.join(td, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not a parquet footer")
    _strip_manifest(wh)
    with pytest.raises(ValueError, match="unsupported"):
        sinks.append_rows(_mk(spark, 1), wh, NAME)
    with pytest.raises(ValueError, match="unsupported"):
        sinks.read_table(spark, wh, NAME)
