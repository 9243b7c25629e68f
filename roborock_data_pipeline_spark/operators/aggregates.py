"""Aggregations (SURVEY sec 2.D).

The reference's only declared aggregate is the never-implemented
Daily_Summary (pipeline.py:307, sheets_client.py:299-307 -- headers
declared twice, computed nowhere). ``q_daily_summary`` is that gold
table, computed over the `events` telemetry stand-in; it is the
engine's flagship query (driver ``entry()``).

Scale posture: every query here is a plain groupBy().agg() on
built-in functions, so Spark applies partial (map-side) aggregation +
whole-stage codegen automatically; the only shuffle is the final
group exchange on the grouping key. At 100 TB the fact table is
date-partitioned, so day-grouped queries also prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

def _k():
    """`events.props` is a JSON string like {"k": 87}; `k` serves as
    the "minutes" measure so the daily summary has both area- and
    time-shaped columns like the reference's declared header
    (pipeline.py:307: Date, Total_Cleanings, Total_Area_m2,
    Total_Time_min, Avg_Area_m2, Avg_Time_min)."""
    return F.get_json_object(F.col("props"), "$.k").cast("long")


@query(
    "q_daily_summary",
    oracle="""
    SELECT STRFTIME(ts, '%Y-%m-%d') AS date,
           COUNT(*) AS total_cleanings,
           ROUND(SUM(value), 2) AS total_area_m2,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS total_time_min,
           ROUND(AVG(value), 2) AS avg_area_m2,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2)
               AS avg_time_min
    FROM events
    GROUP BY 1
    """,
)
def q_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (A6). The reference's declared-but-never-built daily
    rollup: per-day count/sum/avg of the session measures.

    Reference: pipeline.py:307 + sheets_client.py:299-307 (headers
    only; no code ever populates the tab).
    """
    ev = load(spark, sf_dir, "events")
    # date emitted as ISO string: DATE-typed columns round-trip
    # differently through pandas in Spark vs DuckDB (SURVEY sec 7 risk 1).
    return ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date")).agg(
        F.count("*").alias("total_cleanings"),
        F.round(F.sum("value"), 2).alias("total_area_m2"),
        F.sum(_k()).alias("total_time_min"),
        F.round(F.avg("value"), 2).alias("avg_area_m2"),
        F.round(F.avg(_k()), 2).alias("avg_time_min"),
    )


@query(
    "q_lifetime_summary",
    oracle="""
    SELECT user_id AS device_id,
           COUNT(*) AS total_clean_count,
           ROUND(SUM(value), 2) AS total_clean_area,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS total_clean_time
    FROM events
    GROUP BY user_id
    """,
)
def q_lifetime_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/S2: lifetime running totals per device -- the engine computes
    what the reference reads pre-aggregated from the device
    (roborock_collector.py:365-396; snapshot append pipeline.py:523-530).
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("device_id")).agg(
        F.count("*").alias("total_clean_count"),
        F.round(F.sum("value"), 2).alias("total_clean_area"),
        F.sum(_k()).alias("total_clean_time"),
    )


@query(
    "q_consumables_latest",
    oracle="""
    SELECT user_id, event_type, ts, value
    FROM (
        SELECT user_id, event_type, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_consumables_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/S3: current-value view = last row per (device, counter) --
    the reference appends consumables snapshots and the "current"
    state is the latest row per device (pipeline.py:517-544).
    `event_type` stands in for the consumable name.
    """
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "value")
    )


@query(
    "q_row_count",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def q_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: table row count (sheets_client.py:190-201
    `get_last_row_number`)."""
    return load(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "q_tpch_q1_shape",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (EXT): hash-aggregate at scale -- TPC-H Q1 shape. Partial
    aggregation reduces 600k rows to 6 groups map-side before the
    shuffle; the scan reads only the 7 referenced columns."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_devices,
           COUNT(DISTINCT event_type) AS n_states,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (EXT): exact distinct counts. At 100 TB prefer
    `q_approx_distinct` (HLL sketch, no exact-distinct expand)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_devices"),
        F.countDistinct("event_type").alias("n_states"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
    )


@query("q_approx_distinct")  # no oracle: HLL implementations differ by engine
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (EXT, scale path): HLL-sketch distinct estimate -- the
    100 TB variant of q_count_distinct. Rows-only driver check; the
    pytest suite asserts <2% relative error against the exact counts
    and q_approx_distinct_check is the oracle-checked gate.

    DataSketches ``hll_sketch_agg`` at lgK=14 (~1% RSE, the same
    accuracy class as the previous approx_count_distinct rsd=0.01),
    switched r14 on measurement: the HLL++ aggregate at rsd 0.01
    declares its 1639-long register file as individual buffer
    attributes, which costs ~0.65 s of fixed per-aggregate overhead
    here and ~15 us/row -- 12x the DataSketches object sketch on the
    same scan (0.13 s vs 1.5 s at sf0.1). Same sketch family, same
    bound, mergeable across systems."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14)))
        .alias("n_devices"),
        F.hll_sketch_estimate(F.hll_sketch_agg("event_type", F.lit(14)))
        .alias("n_states"),
    )


@query(
    "q_rollup_summary",
    oracle="""
    SELECT STRFTIME(ts, '%Y-%m') AS month,
           STRFTIME(ts, '%Y-%m-%d') AS date,
           COUNT(*) AS total_cleanings,
           ROUND(SUM(value), 2) AS total_area_m2
    FROM events
    GROUP BY ROLLUP (STRFTIME(ts, '%Y-%m'), STRFTIME(ts, '%Y-%m-%d'))
    """,
)
def q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (EXT): daily -> monthly -> grand-total rollup of the daily
    summary (one pass, partial-agg friendly)."""
    ev = load(spark, sf_dir, "events")
    return ev.rollup(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    ).agg(
        F.count("*").alias("total_cleanings"),
        F.round(F.sum("value"), 2).alias("total_area_m2"),
    )


@query("q_hll_daily_users")  # no oracle: DataSketches HLL is engine-specific
def q_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 at scale: per-day distinct users via MERGEABLE HLL sketches
    (DataSketches `hll_sketch_agg`), plus the month-to-date rollup by
    sketch UNION -- the pattern that makes distinct-count maintainable
    at 100 TB: each partition/day keeps a kilobyte sketch, rollups
    union sketches instead of re-scanning raw events, and late
    partitions just re-union. `approx_count_distinct` (q_approx_distinct)
    gives one number; sketches compose. Estimate-vs-exact error is
    pinned in tests/test_functions.py."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_day = daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("date"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    rollup = daily.agg(
        F.lit("ALL").alias("date"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    return per_day.unionByName(rollup)


@query(
    "q_cube_summary",
    oracle="""
    SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
           l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 completion: full CUBE over (returnflag, linestatus) with the
    grouping_id disambiguator -- all four aggregation levels in one
    pass. Spark expands the cube map-side (Expand) then runs one
    partial-agg-friendly hash aggregate, so the shuffle carries
    2^dims partial rows per map task, not 2^dims scans.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )
