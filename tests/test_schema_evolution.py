"""The declared schema at the append door of the batch-log tables.

Every table's schema is declared: the `_schema.json` manifest written
at provisioning (or the code-pinned declaration it mirrors). Appends
are schema-enforced at the door before any file is written: columns
the declaration lacks are refused, a declared column arriving as a
different type is refused, nulls in a non-nullable column are refused,
and a writer that omits a declared nullable column gets typed nulls.
describe_table reports the table's lifecycle (batches, vacuum bases,
retention point) alongside the declared columns.
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


# the declared schema plus one column no declaration has
WIDER = T.StructType(
    list(schemas.CLEANING_RECORDS.fields)
    + [T.StructField("water_level", T.StringType(), True)]
)


def test_pre_evolution_writer_keeps_working(spark, warehouse):
    """A writer that omits a declared NULLABLE column gets typed nulls;
    omitting a non-nullable one is refused before any write."""
    full = _rec_df(spark, 1)
    sinks.append_rows(
        full.drop("error_code", "task_status"), warehouse, "cleaning_records"
    )
    out = sinks.read_table(spark, warehouse, "cleaning_records").collect()
    assert len(out) == 1
    assert out[0]["error_code"] is None and out[0]["task_status"] is None
    with pytest.raises(ValueError, match="missing non-nullable"):
        sinks.append_rows(
            full.drop("device_name"), warehouse, "cleaning_records"
        )


def test_unknown_column_refused_until_evolved(spark, warehouse):
    """A column the declaration lacks is refused at the door; the
    declaration is fixed, so it stays refused."""
    with pytest.raises(ValueError, match="undeclared column"):
        sinks.append_rows(
            _rec_df(spark, 1, WIDER, extra="high"),
            warehouse,
            "cleaning_records",
        )
    assert sinks.list_batches(warehouse, "cleaning_records") == []


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


def test_driver_side_batch_passes_the_same_door(spark, warehouse):
    """A pyarrow batch (the syncs' driver-side write) meets the same
    contract as a Spark one: drift and NOT NULL are refused before
    anything stages, and an omitted nullable column is null-filled."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    ts = dt.datetime(2024, 3, 1, 9, tzinfo=dt.timezone.utc)
    full = to_arrow_schema(schemas.CLEANING_RECORDS)

    def batch(schema=full, **over):
        cols = {"timestamp": [ts], "device_name": ["dev"], "start_time": [ts],
                "duration_minutes": [30.0], "area_sqm": [10.0], "clean_mode": ["s"],
                "clean_way": ["v"], "error_code": [0], "task_status": ["ok"], **over}
        return pa.Table.from_pydict(cols, schema=schema)

    drifted = full.set(full.get_field_index("area_sqm"), pa.field("area_sqm", pa.string()))
    with pytest.raises(ValueError, match="type-drifted"):
        sinks.append_rows(batch(drifted, area_sqm=["ten"]), warehouse, "cleaning_records")
    with pytest.raises(ValueError, match="non-nullable column 'device_name'"):
        sinks.append_rows(batch(device_name=[None]), warehouse, "cleaning_records")
    assert sinks.list_batches(warehouse, "cleaning_records") == []
    sinks.append_rows(batch().drop_columns(["task_status"]), warehouse, "cleaning_records")
    (row,) = sinks.read_table(spark, warehouse, "cleaning_records").collect()
    assert row.task_status is None and row.area_sqm == 10.0


def test_describe_table_reflects_lifecycle(spark, warehouse):
    d0 = sinks.describe_table(warehouse, "cleaning_records")
    assert d0["batch_count"] == 0 and d0["retention_point_ns"] is None
    assert d0["columns"] == schemas.CLEANING_RECORDS.fieldNames()
    sinks.append_rows(_rec_df(spark, 1), warehouse, "cleaning_records")
    sinks.append_rows(_rec_df(spark, 2), warehouse, "cleaning_records")
    sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    d = sinks.describe_table(warehouse, "cleaning_records")
    assert d["batch_count"] == 1 and d["vacuum_bases"] == 1
    assert d["retention_point_ns"] is not None
    # the warehouse-wide form covers every provisioned table
    everything = sinks.describe_warehouse(warehouse)
    assert "cleaning_records" in everything and "consumables" in everything
