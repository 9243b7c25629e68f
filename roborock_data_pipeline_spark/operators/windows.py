"""Window functions & sessionization (SURVEY sec 2.G, sec 2.I T2/T6).

The reference's continuous monitor keeps a per-device dict of the
previous status and fires a "cleaning session completed" event on the
cleaning->idle transition (pipeline.py:104-156). Declaratively that is
`lag(state) OVER (PARTITION BY device ORDER BY ts)` -- one shuffle on
the device key, then a narrow filter. The CLI's monitor
(pipeline.mode_monitor) runs the same edge detection as a per-call
fold with carried state; these batch forms are the oracle-checkable
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_session_edges",
    oracle="""
    SELECT user_id, ts, prev_state, state
    FROM (
        SELECT user_id, ts, event_type AS state,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_state
        FROM events
    )
    WHERE prev_state IS NOT NULL AND prev_state <> state
    """,
)
def q_session_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 as batch: state-transition (edge) detection -- the monitor's
    previous-state comparison (pipeline.py:143-156) as a lag window.
    Emits every row where the device's state changed."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "ts",
            F.col("event_type").alias("state"),
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .where(F.col("prev_state").isNotNull() & (F.col("prev_state") != F.col("state")))
        .select("user_id", "ts", "prev_state", "state")
    )


@query(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T6 (EXT): gap-based sessionization -- lag(ts) -> new-session
    flag -> running sum -> per-session aggregate. The batch equivalent
    of `session_window(ts, '30 minutes')`; one shuffle on user_id,
    reused by both window steps and the final group-by."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision: cast("long") would second-truncate and
    # mis-sessionize gaps within ~1s of the 1800s boundary vs the
    # oracle's full-interval comparison
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros).over(w)
    flagged = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_session_window_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: Spark's native `session_window` (gap-based session
    aggregation in one groupBy -- also the streaming form). Same
    sessions as the hand-rolled q_sessionize; note Spark defines
    session end as last-event + gap, mirrored in the oracle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT STRFTIME(ts, '%Y-%m-%d') AS date,
               ROUND(SUM(value), 2) AS total_area_m2
        FROM events GROUP BY 1
    )
    SELECT date, total_area_m2,
           ROUND(AVG(total_area_m2) OVER (ORDER BY date
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7_area_m2
    FROM daily
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G (EXT): 7-day moving average over the daily summary -- frame
    spec `rowsBetween(-6, 0)`. The unpartitioned window runs on one
    task, which is fine: its input is already one row per day."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date")).agg(
        F.round(F.sum("value"), 2).alias("total_area_m2")
    )
    w = W.orderBy("date").rowsBetween(-6, 0)
    return daily.select(
        "date",
        "total_area_m2",
        F.round(F.avg("total_area_m2").over(w), 2).alias("ma7_area_m2"),
    )


@query(
    "q_tumbling_window",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (EXT): tumbling event-time window as a batch group-by on
    date_trunc -- byte-identical semantics to a streaming
    `window(ts, '1 hour')` aggregation, and expressible as the
    oracle's GROUP BY."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_running_total",
    oracle="""
    SELECT user_id, ts, value,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_area
    FROM events
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-adjacent (EXT): per-device running total -- the engine-side
    derivation of the device's lifetime counter at every point in
    time (the reference only ever sees the device's own running total,
    roborock_collector.py:365-396)."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        "value",
        F.round(F.sum("value").over(w), 2).alias("running_area"),
    )


@query(
    "q_sliding_window",
    oracle="""
    SELECT ws AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM (
        SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts)
                           - INTERVAL '30 minutes']) AS ws,
               event_type, value
        FROM events
    )
    GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+ (EXT): sliding event-time window (1 h length, 30 min
    slide) -- each event lands in exactly length/slide = 2 windows.

    Spark's `window(ts, '1 h', '30 min')` explodes each row into its
    covering windows before the partial aggregation, so the shuffle
    carries pre-combined (window, type) partials -- at 100 TB the
    overlap factor multiplies map output, not exchange rows. The
    oracle unnests the same two epoch-aligned window starts."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "q_user_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), grp AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INT)
                   AS island
        FROM d
    ), streaks AS (
        SELECT user_id, island, COUNT(*) AS streak_len,
               strftime(MIN(day), '%Y-%m-%d') AS streak_start
        FROM grp GROUP BY user_id, island
    ), best AS (
        SELECT user_id, streak_len, streak_start,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY streak_len DESC,
                                           streak_start) AS rk
        FROM streaks
    )
    SELECT user_id, streak_len, streak_start FROM best WHERE rk = 1
    """,
)
def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G (EXT): gaps-and-islands -- each user's longest run of
    consecutive active days (earliest on ties): the classic streak
    query (DAU retention, habit metrics).

    Island id = day - row_number (consecutive days share it); both
    windows and both aggregates key on user_id, so after the initial
    (user, day) dedupe the whole query rides ONE user-keyed exchange.
    Cardinality collapses immediately: events -> |user x day| rows ->
    |islands| rows -> |users| rows -- at 100 TB the heavy step is the
    first distinct, a partial-agg-friendly dedupe."""
    ev = load(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    wd = W.partitionBy("user_id").orderBy("day")
    grp = d.withColumn(
        "island", F.date_sub("day", F.row_number().over(wd))
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
    )
    wb = W.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), "streak_start"
    )
    return (
        streaks.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select("user_id", "streak_len", "streak_start")
    )
