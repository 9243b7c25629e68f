"""Filters / predicates (SURVEY sec 2.C).

All predicates here are plain column expressions, so Catalyst pushes
them into the parquet scan (visible as PushedFilters in
`.explain("formatted")`) -- at 100 TB with date-partitioned facts the
date predicates additionally prune whole partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_state_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE LOWER(event_type) IN ('click', 'view')
    """,
)
def q_state_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F5: case-insensitive categorical membership -- the
    reference's `is_cleaning`/`is_idle` predicates
    (roborock_collector.py:534-547; domains settings.py:37-38)."""
    ev = load(spark, sf_dir, "events")
    return ev.where(F.lower(F.col("event_type")).isin("click", "view")).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "q_date_range_filter",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1996-12-31 00:00:00'
      AND o_orderstatus = 'F'
    """,
)
def q_date_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (EXT): range/date predicate + equality guard (the
    reference's only equality guard is the auth email check,
    roborock_collector.py:209-211). BETWEEN + equality both push to
    the scan; on a date-partitioned table this prunes partitions."""
    od = load(spark, sf_dir, "orders")
    return od.where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-12-31").cast("timestamp"),
        )
        & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
