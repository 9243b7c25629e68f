"""Joins (SURVEY sec 2.F).

The reference has no joins (single-entity pipeline); its only key
correlation is the dict lookup of prior state (J1, in incremental.py).
These are the engine's scale-out join surface:

- J2 star join: dims are tiny (region=5, nation=25 rows) -> broadcast,
  so the fact table never shuffles for the join.
- J3 fact-fact join: both sides large at 100 TB -> sort-merge on the
  key; co-partitioning (bucketing) would remove the shuffle entirely
  on a warehouse deployment.
- J5 as-of join: Spark lacks a native one; expressed as last-non-null
  over an event-time window -- one shuffle on the key, no range
  explosion (the classic union-and-window as-of technique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_star_join",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (EXT): star-schema join. nation/region are FIXED-size dims
    (25/5 rows at any TPC-H SF) -- explicitly broadcast; customer
    SCALES with SF, so its join is left to Catalyst/AQE: under the
    threshold it auto-broadcasts (locally identical plan, pinned in
    tests/test_plans.py), above it AQE picks SMJ -- an explicit
    broadcast hint there would OOM the build side at 100 TB."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_fact_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def q_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (EXT): large-large equi-join (lineitem join orders). Above the
    broadcast threshold Catalyst plans a sort-merge join; the status
    filter pushes below the join to shrink the build side first."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@query(
    "q_range_join_binned",
    oracle="""
    WITH win AS (
        SELECT event_id AS window_id,
               ts - INTERVAL 1 HOUR AS w_start,
               ts + INTERVAL 1 HOUR AS w_end
        FROM events
        WHERE event_type = 'purchase'
        ORDER BY value DESC, event_id
        LIMIT 20
    )
    SELECT w.window_id,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM win w
    JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1
    """,
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+ (EXT): keyless interval join -- all activity inside +-1 h
    windows around the top-20 purchases by value.

    A naive range join with no equi-key is a nested-loop cartesian
    (every event x every window). The scale technique: discretize
    time into bins as wide as the window span (1 h), explode each
    interval into the 2-3 bins it covers, stamp each event with its
    bin, and equi-join on the bin -- the range predicate then only
    filters within-bin candidates. Catalyst gets a *hash* join key,
    so with a big interval side this shuffles on `bin` instead of
    looping; here the 20-window side is broadcast, so events stream
    through one codegen stage. Same trick Flink/Trino use for
    interval joins; output semantics are exactly the BETWEEN oracle.
    """
    ev = load(spark, sf_dir, "events")
    win = (
        ev.where(F.col("event_type") == "purchase")
        .orderBy(F.desc("value"), "event_id")
        .limit(20)
        .select(
            F.col("event_id").alias("window_id"),
            (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
        )
    )
    binned_win = win.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("w_start")),
                F.date_trunc("hour", F.col("w_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    evb = ev.withColumn("bin", F.date_trunc("hour", F.col("ts")))
    return (
        evb.join(F.broadcast(binned_win), "bin")
        .where((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("window_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "q_interval_count_24h",
    oracle="""
    SELECT event_id, user_id, ts, n_prior_24h
    FROM (
        SELECT event_id, user_id, ts, event_type,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING
               ) AS n_prior_24h
        FROM events
    )
    WHERE event_type = 'purchase'
    """,
)
def q_interval_count_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+ (EXT): keyed interval join -- for each purchase, how many
    events the same user produced in the strictly-preceding 24 h
    (the Flink interval-join shape: equi-key + time range).

    Expressed as a RANGE-frame window over microsecond epochs rather
    than a self-join: one shuffle on user_id, each partition scanned
    once with a sliding frame -- linear where the join form is
    per-user quadratic. Frame bounds are in us (unix_micros /
    epoch_us on both engines) so sub-second gaps at the 24 h boundary
    resolve identically -- the second-truncation trap q_sessionize
    hit does not apply here.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-86_400_000_000, -1)
    )
    return (
        ev.withColumn("n_prior_24h", F.count("*").over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "n_prior_24h")
    )


@query(
    "q_asof_status",
    oracle="""
    SELECT event_id, user_id, ts, last_view_ts
    FROM (
        SELECT event_id, user_id, ts, event_type,
               LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_view_ts
        FROM events
    )
    WHERE event_type = 'purchase'
    """,
)
def q_asof_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (EXT): as-of join -- for each purchase, the most recent
    strictly-earlier 'view' by the same user (the reference's
    nearest-status-before-session-start telemetry pattern, S1+S4).

    Implemented as last-non-null over an ordered window instead of a
    range join: linear in events, one shuffle on user_id, immune to
    the quadratic blowup of a naive range self-join."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    return (
        ev.withColumn("last_view_ts", F.last(view_ts, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_view_ts")
    )


@query(
    "q_view_purchase_pairs",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def q_view_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+ (EXT): attribution pairs -- (purchase, view-within-1-hour)
    per user.

    Equi-join on user_id with the time range riding the join as a
    predicate -- one shuffle per side, no range explosion; output is
    bounded by genuine matches. At 100 TB both sides pre-filter on
    event_type at the scan, and AQE handles user skew."""
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    return (
        p.join(
            v,
            ["user_id"],
        )
        .where(
            (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        )
        .select("purchase_id", "view_id", "user_id")
    )


@query(
    "q_reconcile",
    oracle="""
    WITH a AS (
        SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend_early,
               COUNT(*) AS n_early
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    ),
    b AS (
        SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend_late,
               COUNT(*) AS n_late
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           a.spend_early, a.n_early, b.spend_late, b.n_late,
           CASE WHEN a.o_custkey IS NULL THEN 'late_only'
                WHEN b.o_custkey IS NULL THEN 'early_only'
                ELSE 'both' END AS presence
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
)
def q_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family completion: FULL OUTER reconciliation of two period
    aggregates of the same fact -- the audit join that surfaces keys
    present on only one side (churned / newly-acquired customers,
    or two pipelines' outputs that should agree).

    Both sides pre-aggregate to key-sized relations BEFORE the full
    outer join, so the join input is |customers|, not |orders| -- a
    full outer join of raw facts would shuffle everything to preserve
    unmatched rows of both sides. Presence flags derive from the
    join's null pattern, costing nothing extra.
    """
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    a = (
        o.where(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("spend_early"),
            F.count("*").alias("n_early"),
        )
        .alias("a")
    )
    b = (
        o.where(F.col("o_orderdate") >= cutoff)
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("spend_late"),
            F.count("*").alias("n_late"),
        )
        .alias("b")
    )
    joined = a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
        "spend_early", "n_early", "spend_late", "n_late",
        F.when(F.col("a.o_custkey").isNull(), "late_only")
        .when(F.col("b.o_custkey").isNull(), "early_only")
        .otherwise("both")
        .alias("presence"),
    )
