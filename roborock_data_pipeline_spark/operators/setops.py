"""Set operations (SURVEY sec 2.H).

The reference keeps two shapes of the same entity -- live-captured
Cleaning_History and device-memory Cleaning_Records (sec 1.2.1 vs
sec 1.2.5) -- in separate tables; the engine can merge them. Set ops are
plain shuffles on the full row; at scale prefer UNION ALL + a later
group-by over UNION when duplicates are acceptable downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_union_sessions",
    oracle="""
    SELECT event_id, user_id, ts FROM events
    WHERE event_type IN ('click', 'view')
    UNION
    SELECT event_id, user_id, ts FROM events
    WHERE event_type IN ('view', 'purchase')
    """,
)
def q_union_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H (EXT): merge two overlapping projections of the same entity
    with duplicate elimination -- the Cleaning_History union
    Cleaning_Records merge."""
    ev = load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type").isin("click", "view"))
    b = ev.where(F.col("event_type").isin("view", "purchase"))
    cols = ["event_id", "user_id", "ts"]
    return a.select(*cols).union(b.select(*cols)).distinct()


@query(
    "q_set_except",
    oracle="""
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H (EXT): EXCEPT -- devices that purchased and never errored."""
    ev = load(spark, sf_dir, "events")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    errored = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.exceptAll(errored.distinct()).distinct()


@query(
    "q_set_intersect",
    oracle="""
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H (EXT): INTERSECT -- devices seen in both categories."""
    ev = load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.where(F.col("event_type") == "signup").select("user_id").distinct()
    return a.intersect(b)
