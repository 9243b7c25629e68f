"""Type changes at the append door: a declared column's type is fixed,
so an append that carries a lossy type for it is refused before any
file is written."""

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


def test_lossy_type_changes_still_refused(spark, warehouse):
    # lossy drift on append refused (string into double)
    drifted = T.StructType(
        [
            T.StructField(f.name, T.StringType(), True)
            if f.name == "duration_minutes"
            else f
            for f in schemas.CLEANING_RECORDS.fields
        ]
    )
    ts = dt.datetime(2024, 3, 1, 9)
    df = spark.createDataFrame(
        [(ts, "dev", ts, "thirty", 10.0, "s", "v", 0, "ok")], drifted
    )
    with pytest.raises(ValueError, match="type-drifted"):
        sinks.append_rows(df, warehouse, "cleaning_records")
    assert sinks.list_batches(warehouse, "cleaning_records") == []
