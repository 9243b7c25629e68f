"""Additive schema evolution on the batch-log tables.

The warehouse schemas were code-pinned: adding a column meant editing
the engine. The manifest (`_schema.json`, atomic tmp+rename under the
writer lease) makes the declaration data: `add_table_column` appends a
NULLABLE field, every reader resolves the CURRENT schema, batches
published before the evolution read the new column as null, and
appends are schema-enforced at the door (unknown columns refused until
evolved; missing nullable columns null-filled) — Delta/Iceberg's
additive-evolution + enforcement contract on the staged-rename log.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.sources import sinks


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rec_df(spark, day, schema=None, extra=None):
    ts = dt.datetime(2024, 3, day, 9)
    row = [ts, "dev", ts, 30.0, 10.0, "s", "v", 0, "ok"]
    if extra is not None:
        row = row + [extra]
    return spark.createDataFrame(
        [tuple(row)], schema or schemas.CLEANING_RECORDS
    )


EVOLVED = T.StructType(
    list(schemas.CLEANING_RECORDS.fields)
    + [T.StructField("water_level", T.StringType(), True)]
)


def test_old_batches_read_null_new_carry_values(spark, warehouse):
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    sinks.add_table_column(
        warehouse,
        "cleaning_records",
        T.StructField("water_level", T.StringType(), True),
    )
    sinks.append_rows(
        _rec_df(spark, 2, EVOLVED, extra="high"), warehouse, "cleaning_records"
    )
    rows = {
        r["start_time"].day: r["water_level"]
        for r in sinks.read_table(spark, warehouse, "cleaning_records").collect()
    }
    assert rows == {1: None, 2: "high"}


def test_pre_evolution_writer_keeps_working(spark, warehouse):
    sinks.add_table_column(
        warehouse,
        "cleaning_records",
        T.StructField("water_level", T.StringType(), True),
    )
    # a writer still on the old schema: missing nullable column is
    # null-filled, not refused
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    out = sinks.read_table(spark, warehouse, "cleaning_records").collect()
    assert out[0]["water_level"] is None


def test_unknown_column_refused_until_evolved(spark, warehouse):
    with pytest.raises(ValueError, match="undeclared column"):
        sinks.append_rows(
            _rec_df(spark, 1, EVOLVED, extra="high"),
            warehouse,
            "cleaning_records",
        )


def test_non_nullable_add_refused(spark, warehouse):
    with pytest.raises(ValueError, match="nullable"):
        sinks.add_table_column(
            warehouse,
            "cleaning_records",
            T.StructField("water_level", T.StringType(), False),
        )


def test_duplicate_add_refused(spark, warehouse):
    with pytest.raises(ValueError, match="already exists"):
        sinks.add_table_column(
            warehouse,
            "cleaning_records",
            T.StructField("area_sqm", T.DoubleType(), True),
        )


def test_time_travel_and_vacuum_span_the_evolution(spark, warehouse):
    import time

    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    t_before = time.time_ns()
    sinks.add_table_column(
        warehouse,
        "cleaning_records",
        T.StructField("water_level", T.StringType(), True),
    )
    sinks.append_rows(
        _rec_df(spark, 2, EVOLVED, extra="low"), warehouse, "cleaning_records"
    )
    # as-of BEFORE the evolution still resolves the current schema
    # (evolution is table-wide, not per-version) — the old batch's
    # new column is null
    asof = sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", t_before
    ).collect()
    assert len(asof) == 1 and asof[0]["water_level"] is None
    # vacuum merges across the evolution: base carries the evolved
    # schema with nulls materialized for pre-evolution rows
    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 2
    rows = {
        r["start_time"].day: r["water_level"]
        for r in sinks.read_table(spark, warehouse, "cleaning_records").collect()
    }
    assert rows == {1: None, 2: "low"}


def test_type_drifted_append_refused(spark, warehouse):
    drifted_schema = T.StructType(
        [
            f if f.name != "area_sqm"
            else T.StructField("area_sqm", T.StringType(), True)
            for f in schemas.CLEANING_RECORDS.fields
        ]
    )
    ts = dt.datetime(2024, 3, 1, 9)
    df = spark.createDataFrame(
        [(ts, "dev", ts, 30.0, "ten", "s", "v", 0, "ok")], drifted_schema
    )
    with pytest.raises(ValueError, match="type-drifted"):
        sinks.append_rows(df, warehouse, "cleaning_records")


def test_null_in_non_nullable_column_refused(spark, warehouse):
    rows = [(dt.datetime(2024, 3, 1, 9), None, dt.datetime(2024, 3, 1, 9),
             30.0, 10.0, "s", "v", 0, "ok")]
    nullable_all = T.StructType(
        [T.StructField(f.name, f.dataType, True)
         for f in schemas.CLEANING_RECORDS.fields]
    )
    df = spark.createDataFrame(rows, nullable_all)
    with pytest.raises(Exception, match="non-nullable column"):
        sinks.append_rows(df, warehouse, "cleaning_records")
    # nothing was published: the job died before the staged rename
    assert sinks.list_batches(warehouse, "cleaning_records") == []


def test_register_warehouse_views_sql_roundtrip(spark, warehouse):
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    names = sinks.register_warehouse_views(spark, warehouse)
    assert "cleaning_records" in names and "daily_summary" in names
    n = spark.sql("SELECT COUNT(*) AS n FROM cleaning_records").collect()[0]["n"]
    assert n == 1
    # views are fresh-resolving since r8 (re-registering is harmless;
    # tests/test_warehouse_views.py pins the no-re-register freshness)
    sinks.append_rows(_rec_df(spark, 2), warehouse, "cleaning_records")
    sinks.register_warehouse_views(spark, warehouse)
    n = spark.sql("SELECT COUNT(*) AS n FROM cleaning_records").collect()[0]["n"]
    assert n == 2
    for name in names:
        spark.catalog.dropTempView(name)


def test_check_constraint_lifecycle(spark, warehouse):
    sinks.add_table_constraint(
        warehouse, "cleaning_records", "nonneg_area", "area_sqm >= 0"
    )
    # valid batch passes
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    # violating batch dies before the staged rename
    ts = dt.datetime(2024, 3, 2, 9)
    bad = spark.createDataFrame(
        [(ts, "dev", ts, 30.0, -1.0, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    with pytest.raises(Exception, match="nonneg_area"):
        sinks.append_rows(bad, warehouse, "cleaning_records")
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 1
    # duplicate name refused; drop re-opens the door
    with pytest.raises(ValueError, match="already exists"):
        sinks.add_table_constraint(
            warehouse, "cleaning_records", "nonneg_area", "area_sqm >= 0"
        )
    sinks.drop_table_constraint(warehouse, "cleaning_records", "nonneg_area")
    sinks.append_rows(bad, warehouse, "cleaning_records")  # now allowed
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 2


def test_constraints_survive_schema_evolution(spark, warehouse):
    sinks.add_table_constraint(
        warehouse, "cleaning_records", "nonneg_area", "area_sqm >= 0"
    )
    sinks.add_table_column(
        warehouse,
        "cleaning_records",
        T.StructField("water_level", T.StringType(), True),
    )
    # the evolution's manifest rewrite must not drop the constraint
    assert sinks.table_constraints(warehouse, "cleaning_records") == {
        "nonneg_area": "area_sqm >= 0"
    }
    ts = dt.datetime(2024, 3, 2, 9)
    bad = spark.createDataFrame(
        [(ts, "dev", ts, 30.0, -1.0, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    with pytest.raises(Exception, match="nonneg_area"):
        sinks.append_rows(bad, warehouse, "cleaning_records")


def test_validate_table_reports_history_violations(spark, warehouse):
    # a valid batch lands first; then the constraint arrives AFTER a
    # violating batch slipped in pre-constraint — door enforcement is
    # future-only, so history must be auditable explicitly
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    ts = dt.datetime(2024, 3, 2, 9)
    pre_constraint_bad = spark.createDataFrame(
        [(ts, "dev", ts, 30.0, -1.0, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(pre_constraint_bad, warehouse, "cleaning_records")
    sinks.add_table_constraint(
        warehouse, "cleaning_records", "nonneg_area", "area_sqm >= 0"
    )
    report = sinks.validate_table(spark, warehouse, "cleaning_records")
    assert report["check:nonneg_area"] == 1
    # NOT NULL columns are clean (zero entries are explicit)
    assert report["not_null:device_name"] == 0
    # a null in a NULLABLE column does not count against anything
    assert all(v == 0 for k, v in report.items() if k != "check:nonneg_area")


def test_describe_table_reflects_lifecycle(spark, warehouse):
    d0 = sinks.describe_table(warehouse, "cleaning_records")
    assert d0["batch_count"] == 0 and d0["schema_version"] == 0
    assert d0["retention_point_ns"] is None
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    sinks.append_rows(_rec_df(spark, 2), warehouse, "cleaning_records")
    sinks.add_table_column(
        warehouse, "cleaning_records",
        T.StructField("water_level", T.StringType(), True),
    )
    sinks.add_table_constraint(
        warehouse, "cleaning_records", "nonneg_area", "area_sqm >= 0"
    )
    sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    d = sinks.describe_table(warehouse, "cleaning_records")
    assert d["batch_count"] == 1 and d["vacuum_bases"] == 1
    assert d["retention_point_ns"] is not None
    assert d["schema_version"] == 2
    assert d["columns"][-1] == "water_level"
    assert d["constraints"] == {"nonneg_area": "area_sqm >= 0"}
    # the warehouse-wide form covers every provisioned table
    everything = sinks.describe_warehouse(warehouse)
    assert "cleaning_records" in everything and "daily_summary" in everything
