"""Data-layout operators: Z-order clustering keys and time-spine
gap fill (SURVEY sec 2 EXT).

At 100 TB, layout is a first-class operator: writing files clustered
on an interleaved (Z-order) key makes per-file min/max statistics
selective on BOTH dimensions, so later scans prune files for either
predicate -- the same trick Delta OPTIMIZE ZORDER BY and Iceberg
sort-order rewrites use. The gap-fill spine is the other chronic
warehouse need: turning a sparse event stream into a dense
time-series without driver-side loops.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

Z_BITS = 8


def zorder_key(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Interleave the low ``bits`` of two non-negative ints into a
    2*bits Morton (Z-order) key: bit b of x lands at 2b, of y at
    2b+1. Pure codegen bit arithmetic -- a map-only expression that
    becomes the sort key of a write, never a shuffle of its own
    (the range-partitioned write that follows it does the shuffle).
    """
    terms = []
    for b in range(bits):
        xb = F.shiftright(x, b).bitwiseAND(F.lit(1))
        yb = F.shiftright(y, b).bitwiseAND(F.lit(1))
        terms.append(F.shiftleft(xb, 2 * b).bitwiseOR(F.shiftleft(yb, 2 * b + 1)))
    return reduce(lambda a, c: a.bitwiseOR(c), terms)


def _oracle_z_expr(x: str, y: str, bits: int = Z_BITS) -> str:
    parts = [
        f"((({x} >> {b}) & 1) << {2 * b}) | ((({y} >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    ]
    return " | ".join(f"({p})" for p in parts)


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH keyed AS (
        SELECT (o_custkey % 256) AS x,
               (CAST(STRFTIME(o_orderdate, '%j') AS BIGINT) % 256) AS y,
               ({_oracle_z_expr("(o_custkey % 256)",
                                "(CAST(STRFTIME(o_orderdate, '%j') AS BIGINT) % 256)")})
               AS zkey
        FROM orders
    )
    SELECT (zkey >> 10) AS file_bucket,
           COUNT(*) AS n_rows,
           MIN(x) AS min_cust, MAX(x) AS max_cust,
           MIN(y) AS min_day, MAX(y) AS max_day
    FROM keyed GROUP BY (zkey >> 10)
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planning for the orders table: Morton-interleave
    (customer mod 256, day-of-year mod 256), assign rows to 64 file
    buckets by Z-prefix, and report each bucket's min/max on both
    dimensions -- exactly the per-file statistics a Z-ordered write
    produces. The bounded ranges on BOTH columns (vs. a plain sort,
    which leaves the second column unbounded per file) are what make
    two-dimensional file pruning work.

    At 100 TB the bucket id becomes ``repartitionByRange(zkey)`` +
    sortWithinPartitions before the write; the key itself is pure
    codegen bit math with no shuffle of its own.
    """
    o = load(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("long")
    y = (F.date_format("o_orderdate", "D").cast("long") % 256)
    keyed = o.select(
        x.alias("x"), y.alias("y"), zorder_key(x, y).alias("zkey")
    )
    return keyed.groupBy(F.shiftright("zkey", 10).alias("file_bucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_cust"),
        F.max("x").alias("max_cust"),
        F.min("y").alias("min_day"),
        F.max("y").alias("max_day"),
    )


@query(
    "q_date_scaffold",
    oracle="""
    WITH b AS (
        SELECT MIN(CAST(ts AS DATE)) AS mn, MAX(CAST(ts AS DATE)) AS mx
        FROM events
    ),
    days AS (
        SELECT CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d
        FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT STRFTIME(days.d, '%Y-%m-%d') AS date, types.event_type,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM days CROSS JOIN types
    LEFT JOIN daily ON daily.d = days.d AND daily.event_type = types.event_type
    """,
)
def q_date_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series: a (date x event_type) spine built from
    sequence()/explode over the observed date range, left-joined to
    the daily counts so silent days appear as zeros -- the dense input
    a forecasting or SLA job needs.

    Scale shape: the spine is days x types (tiny, broadcast side); the
    counts aggregate is the only real shuffle and is partial-agg
    friendly. The spine generation is one row exploded JVM-side --
    never a driver loop.
    """
    ev = load(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    daily = ev.groupBy("d", "event_type").agg(F.count("*").alias("n"))
    spine_days = (
        ev.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("d"))
    )
    types = ev.select("event_type").distinct()
    spine = spine_days.crossJoin(types)
    return (
        spine.join(F.broadcast(daily), ["d", "event_type"], "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("date"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )
