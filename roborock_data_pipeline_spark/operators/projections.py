"""Projections, derived columns, scalar functions (SURVEY sec 2.B).

Everything the reference does per-record in Python (`to_row()`
serialization, unit conversion, enum normalization, null-coalescing,
casts) is expressed here as native column expressions -- zero Python
UDFs, so all of it stays inside whole-stage codegen (sec 2.J goal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_project_rename",
    oracle="""
    SELECT event_id AS record_id,
           CAST(user_id AS VARCHAR) AS device_name,
           event_type AS state,
           CAST(value AS DOUBLE) AS clean_area,
           ts AS "timestamp"
    FROM events
    """,
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P7: fixed-order column projection with renames + casts -- the
    `to_row()` serialization of each reference dataclass
    (roborock_collector.py:33-47 etc.), done declaratively so Catalyst
    prunes the scan to exactly these columns."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("record_id"),
        F.col("user_id").cast("string").alias("device_name"),
        F.col("event_type").alias("state"),
        F.col("value").cast("double").alias("clean_area"),
        F.col("ts").alias("timestamp"),
    )


@query(
    "q_unit_conversion",
    oracle="""
    SELECT event_id,
           ROUND(value / 10000, 2) AS clean_area_sqm,
           ROUND(value / 60, 1) AS duration_minutes
    FROM events
    """,
)
def q_unit_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: unit conversions cm^2->m^2 (`round(area/10000, 2)`,
    roborock_collector.py:332,384,487-488) and s->min
    (`round(dur/60, 1)`, :480-481)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(F.col("value") / 10000, 2).alias("clean_area_sqm"),
        F.round(F.col("value") / 60, 1).alias("duration_minutes"),
    )


@query(
    "q_case_normalize",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN LOWER(event_type) IN ('click', 'view') THEN 'interaction'
                WHEN LOWER(event_type) = 'error' THEN 'fault'
                ELSE UPPER(event_type) END AS state_class
    FROM events
    """,
)
def q_case_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: categorical normalization -- the reference stringifies enums
    (`.name` if enum else `str(x)`, roborock_collector.py:308-325,
    491-503) at six sites; declaratively that's a CASE expression."""
    ev = load(spark, sf_dir, "events")
    lo = F.lower(F.col("event_type"))
    return ev.select(
        "event_id",
        "event_type",
        F.when(lo.isin("click", "view"), F.lit("interaction"))
        .when(lo == "error", F.lit("fault"))
        .otherwise(F.upper(F.col("event_type")))
        .alias("state_class"),
    )


@query(
    "q_null_handling",
    oracle="""
    SELECT event_id,
           ROUND(COALESCE(CASE WHEN event_type = 'error' THEN NULL
                               ELSE value END, 0.0), 2) AS value_filled,
           (CASE WHEN event_type = 'error' THEN NULL ELSE value END IS NOT NULL)
               AS has_value,
           COALESCE(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1)
               AS missing_attr
    FROM events
    """,
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F4: null-coalescing defaults (`getattr(x, attr, 0) or 0`,
    roborock_collector.py:328-329,418-420) and null guards
    (pipeline.py:137-138). `missing_attr` mirrors the attr-name
    fallback: a key absent from the JSON coalesces to a default."""
    ev = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    return ev.select(
        "event_id",
        F.round(F.coalesce(v, F.lit(0.0)), 2).alias("value_filled"),
        v.isNotNull().alias("has_value"),
        F.coalesce(
            F.get_json_object(F.col("props"), "$.missing").cast("long"), F.lit(-1)
        ).alias("missing_attr"),
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (EXT): JSON field extraction from a string column -- the
    reference's only JSON is its state file (state_manager.py:24-38);
    the engine does it as a column op, JVM-side."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


@query(
    "q_timestamp_format",
    oracle="""
    SELECT event_id,
           STRFTIME(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
           SUBSTRING(STRFTIME(ts, '%Y-%m-%dT%H:%M:%S'), 1, 10) AS ts_date_str
    FROM events
    """,
)
def q_timestamp_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P8: ISO-8601 timestamp formatting + display truncation
    (`timestamp[:19]`, pipeline.py:56,70). Native timestamps end to
    end; formatting only at the sink boundary (SURVEY sec 1.3)."""
    ev = load(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    return ev.select(
        "event_id",
        iso.alias("ts_iso"),
        F.substring(iso, 1, 10).alias("ts_date_str"),
    )
