"""Incremental / dedup semantics (SURVEY sec 2.C F2-F3, sec 2.D A3-A4, sec 3.2).

This is the heart of the reference: a JSON state file holds, per
device, the last-seen monotonic cleaning counter and the last-logged
record timestamp (state_manager.py:50-87); each run processes only
what advanced past that state. Here the "state" is itself derived
relationally -- a pre-cutoff aggregate standing in for the persisted
state table -- and the incremental predicate is a join + filter.

Exactly-once note (T5): the reference advances state even when the
sink write fails (pipeline.py:562-568, 749-750 -- silent at-most-once
loss). The engine's equivalent is transactional by construction:
state is derived from what the sink actually holds, so a failed write
is simply retried next run. Documented here; nothing to code around.

Scale: the state side is one row per device -- always broadcast-able;
the fact side shuffles only for its own aggregation. At 100 TB, the
watermark predicate prunes date partitions before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

# The "previous run" horizon: events at/before this instant are the
# persisted state; events after it are the new arrivals.
CUTOFF = "2024-01-15 00:00:00"


def _state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device snapshot of the last-seen counter (A3): what the
    reference keeps in config/last_state.json, derived as an
    aggregate over the pre-cutoff history."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") <= F.lit(CUTOFF).cast("timestamp"))
        .groupBy("user_id")
        .agg(F.count("*").alias("last_count"), F.max("ts").alias("last_ts"))
    )


@query(
    "q_dedup_counter",
    oracle=f"""
    WITH state AS (
        SELECT user_id, COUNT(*) AS last_count
        FROM events WHERE ts <= TIMESTAMP '{CUTOFF}'
        GROUP BY user_id
    ), current AS (
        SELECT user_id, COUNT(*) AS cur_count FROM events GROUP BY user_id
    )
    SELECT c.user_id,
           COALESCE(s.last_count, 0) AS last_count,
           c.cur_count,
           GREATEST(0, c.cur_count - COALESCE(s.last_count, 0)) AS new_cleanings
    FROM current c LEFT JOIN state s ON c.user_id = s.user_id
    WHERE c.cur_count > COALESCE(s.last_count, 0)
    """,
)
def q_dedup_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/A3/A4: monotonic-counter change detection -- "a new cleaning
    happened iff current_count > last_count", delta = max(0, cur-last)
    (state_manager.py:66-74; consumed at pipeline.py:505-507)."""
    ev = load(spark, sf_dir, "events")
    state = _state_counts(spark, sf_dir).select("user_id", "last_count")
    current = ev.groupBy("user_id").agg(F.count("*").alias("cur_count"))
    last = F.coalesce(F.col("last_count"), F.lit(0))
    return (
        current.join(F.broadcast(state), "user_id", "left")
        .where(F.col("cur_count") > last)
        .select(
            "user_id",
            last.alias("last_count"),
            "cur_count",
            F.greatest(F.lit(0), F.col("cur_count") - last).alias("new_cleanings"),
        )
    )


@query(
    "q_new_records_incremental",
    oracle=f"""
    WITH wm AS (
        SELECT user_id, MAX(ts) AS last_ts
        FROM events WHERE ts <= TIMESTAMP '{CUTOFF}'
        GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type
    FROM events e LEFT JOIN wm ON e.user_id = wm.user_id
    WHERE e.ts > COALESCE(wm.last_ts, TIMESTAMP '1970-01-01 00:00:00')
    """,
)
def q_new_records_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/O3: event-time watermark filter -- keep only records newer
    than the per-device high-water mark, emitted oldest-first
    (pipeline.py:717-737). The reference compares ISO strings; the
    engine compares native timestamps (SURVEY sec 7 risk 3).

    O3's oldest-first ordering only needs to hold within each sink
    task's output file, so it is a `sortWithinPartitions` -- a global
    `orderBy` would add a full range-shuffle of every new record at
    100 TB for an ordering nothing downstream relies on."""
    ev = load(spark, sf_dir, "events")
    wm = _state_counts(spark, sf_dir).select("user_id", "last_ts")
    return (
        ev.join(F.broadcast(wm), "user_id", "left")
        .where(
            F.col("ts")
            > F.coalesce(F.col("last_ts"), F.lit("1970-01-01").cast("timestamp"))
        )
        .sortWithinPartitions("ts", "event_id")  # O3: oldest-first per sink file
        .select("event_id", "user_id", "ts", "event_type")
    )


@query(
    "q_state_join",
    oracle=f"""
    WITH state AS (
        SELECT user_id, COUNT(*) AS last_count, MAX(ts) AS last_ts
        FROM events WHERE ts <= TIMESTAMP '{CUTOFF}'
        GROUP BY user_id
    ), latest AS (
        SELECT user_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT l.user_id, l.ts, l.event_type, s.last_count, s.last_ts
    FROM latest l LEFT JOIN state s ON l.user_id = s.user_id
    WHERE l.rn = 1
    """,
)
def q_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: current snapshot left-join keyed state -- the reference's in-memory
    `previous_states.get(device_id)` dict lookup (pipeline.py:141;
    state_manager.py:41-48) as a broadcast left join."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    state = _state_counts(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_type")
    )
    return latest.join(F.broadcast(state), "user_id", "left").select(
        "user_id", "ts", "event_type", "last_count", "last_ts"
    )


@query(
    "q_anti_dedup",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (EXT): anti join -- the batch form of "only keep rows not
    already logged" (F2), phrased as customers-with-no-orders. A
    left_anti join shuffles both sides on the key but materializes
    nothing from the right -- the scalable NOT EXISTS."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_semi_join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (EXT): semi join -- EXISTS without duplication (orders having
    at least one high-quantity line)."""
    orders = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(li, "o_orderkey", "left_semi").select(
        "o_orderkey", "o_totalprice"
    )
