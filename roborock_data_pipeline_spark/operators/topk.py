"""Sorts / limits / top-k (SURVEY sec 2.E).

Spark plans global top-k as TakeOrderedAndProject: each partition
keeps its local top-k, the driver merges kxpartitions rows -- no full
sort, no full shuffle. That is exactly the scan-side limit pushdown
the reference hand-rolls by slicing the id list before the N+1 detail
fetch (roborock_collector.py:459-462).

Determinism: `ts` can tie after us truncation, so every ordering adds
`event_id` as the tie-break -- otherwise top-k membership is
nondeterministic across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_recent_n",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 10
    """,
)
def q_recent_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O4: top-k most-recent records (`get_clean_records(limit)`,
    roborock_collector.py:436-525; fetch caps pipeline.py:711,816)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(10)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


@query(
    "q_latest_per_device",
    oracle="""
    SELECT user_id, ts, event_type, value
    FROM (
        SELECT user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_per_device(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: latest record per device (`get_last_clean_record` = limit 1
    per device, roborock_collector.py:527-532; pipeline.py:511-513).

    One shuffle on the partition key; rank=1 filter happens inside the
    window operator, so only one row per key survives the exchange.
    """
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_type", "value")
    )
