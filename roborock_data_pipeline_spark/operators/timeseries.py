"""Time-series analytics over the events stream (SURVEY sec 2 EXT).

The reference materializes one daily rollup (pipeline.py:151 tab
`Daily_Summary`); real telemetry warehouses immediately ask the next
two questions -- "smooth the daily series" and "fill the days the
fleet was dark". Both are expressed as window functions over the
*day-grain* table (tiny -- one row per day per series), never over raw
events, so the expensive part stays a single partial-aggregated
shuffle of the fact table.

Scale posture (100 TB): the day-grain table is O(days x series); the
global ORDER BY d windows here are per-series windows on a real
deployment (partitionBy(series_key)), so no single-partition sort of
the whole table ever happens. See SCALE.md sec timeseries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

# Sparse-series predicate for the interpolation demo: one event in
# ~499 keeps the observed series genuinely gappy at every SF.
SPARSE_MOD = 499


@query(
    "q_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT ts::DATE AS dt, ROUND(SUM(value), 2) AS daily_value
        FROM events GROUP BY 1)
    SELECT strftime(dt, '%Y-%m-%d') AS d,
           daily_value,
           ROUND(quantile_cont(daily_value, 0.5) OVER (
               ORDER BY dt ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
               2) AS med7
    FROM daily
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling *median* of daily event value -- the robust
    smoother ops dashboards use where a rolling mean would chase one
    bad day.

    The exact percentile runs over a 7-row frame of the day-grain
    table (30 rows here, O(days) in general), so the O(n log n) exact
    sort inside each frame is trivial; raw events are reduced by a
    partially-aggregated groupBy first. The global ORDER BY window is
    per-device/per-series at scale (partitionBy before orderBy);
    for frames too wide to sort, q_approx_percentiles shows the
    sketch alternative."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("dt")).agg(
        F.round(F.sum("value"), 2).alias("daily_value")
    )
    w = Window.orderBy("dt").rowsBetween(-6, 0)
    return daily.select(
        F.date_format("dt", "yyyy-MM-dd").alias("d"),
        "daily_value",
        F.round(F.percentile("daily_value", F.lit(0.5)).over(w), 2).alias(
            "med7"
        ),
    )


@query(
    "q_interpolate",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(ts::DATE) AS d0, MAX(ts::DATE) AS d1 FROM events),
    spine AS (
        SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS dt
        FROM bounds),
    obs AS (
        SELECT ts::DATE AS dt, ROUND(SUM(value), 2) AS v
        FROM events WHERE event_id % {SPARSE_MOD} = 0 GROUP BY 1),
    j AS (SELECT s.dt, o.v FROM spine s LEFT JOIN obs o ON s.dt = o.dt),
    f AS (
        SELECT dt, v,
            last_value(v IGNORE NULLS) OVER (
                ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN dt END IGNORE NULLS)
                OVER (ORDER BY dt
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS pd,
            first_value(v IGNORE NULLS) OVER (
                ORDER BY dt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
            ) AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN dt END IGNORE NULLS)
                OVER (ORDER BY dt
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
            ) AS nd
        FROM j)
    SELECT strftime(dt, '%Y-%m-%d') AS d,
           CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE (ROUND(pv * 100)::BIGINT
                     * (date_diff('day', pd, nd) - date_diff('day', pd, dt))
                     + ROUND(nv * 100)::BIGINT * date_diff('day', pd, dt))
                    / (100.0 * date_diff('day', pd, nd))
           END AS v_filled,
           (v IS NULL) AS interpolated
    FROM f
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of a gappy daily series onto the full
    date spine -- the gap-repair step before any rolling-window or
    forecasting consumer (which silently mis-window on missing days).

    Composition: date scaffold (sequence-explode, as q_date_scaffold)
    left-join observed days, then two IGNORE NULLS window passes find the
    bracketing observations and the fill is a pure-codegen lerp.
    Edges clamp to the nearest observation. The windows run on the
    day-grain spine (O(days) rows); at scale they are per-series
    (partitionBy) so no global sort exists."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("dt")
    )
    obs = (
        ev.where(F.col("event_id") % SPARSE_MOD == 0)
        .groupBy(F.col("ts").cast("date").alias("dt"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    j = spine.join(obs, "dt", "left")
    w_back = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("dt").rowsBetween(0, Window.unboundedFollowing)
    obs_dt = F.when(F.col("v").isNotNull(), F.col("dt"))
    f = j.select(
        "dt",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(obs_dt, ignorenulls=True).over(w_back).alias("pd"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(obs_dt, ignorenulls=True).over(w_fwd).alias("nd"),
    )
    # The lerp runs on exact integer hundredths (observed values are
    # on the 0.01 grid): one integer expression + one double division
    # is bit-identical across engines, so no round-half boundary can
    # ever split Spark from the oracle.
    dd1 = F.datediff("dt", "pd")
    dd2 = F.datediff("nd", "pd")
    pv100 = F.round(F.col("pv") * 100).cast("long")
    nv100 = F.round(F.col("nv") * 100).cast("long")
    lerp = (pv100 * (dd2 - dd1) + nv100 * dd1) / (100.0 * dd2)
    return f.select(
        F.date_format("dt", "yyyy-MM-dd").alias("d"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(lerp)
        .alias("v_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


@query(
    "q_rolling_distinct",
    oracle="""
    WITH bounds AS (
        SELECT MIN(ts::DATE) AS d0, MAX(ts::DATE) AS d1 FROM events),
    spine AS (
        SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS dt
        FROM bounds),
    win_days AS (
        SELECT s.dt, e.user_id
        FROM spine s
        JOIN events e ON e.ts::DATE BETWEEN s.dt - 6 AND s.dt)
    SELECT strftime(dt, '%Y-%m-%d') AS d,
           COUNT(DISTINCT user_id)::BIGINT AS wau
    FROM win_days GROUP BY dt
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (WAU) -- the
    engagement curve every product dashboard starts from, and the
    canonical 'COUNT(DISTINCT) over a sliding window' problem SQL
    window frames cannot express directly.

    Scalable form: dedupe to (user, day) grain first (one shuffle
    that collapses raw events ~per-user-daily-rate x), then each
    active-day row *fans out to the <=7 window days it serves* --
    map-side explode, no self-join of the spine against the fact
    table (the oracle's join shape, quadratic in daysxevents). The
    distinct count then partial-aggregates on (window_day, user).
    At 100 TB the fanout input is the deduped user-day table, orders
    of magnitude smaller than events; for wider windows or when
    exactness can relax, the mergeable-sketch path is
    q_hll_daily_users (hll_union over daily sketches)."""
    ev = load(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.col("ts").cast("date").alias("dt"))
        .distinct()
    )
    d1 = ev.agg(F.max(F.col("ts").cast("date")).alias("d1"))
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence("dt", F.date_add("dt", 6))
        ).alias("wd"),
    )
    return (
        fan.crossJoin(F.broadcast(d1))
        .where(F.col("wd") <= F.col("d1"))
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.date_format("wd", "yyyy-MM-dd").alias("d"), "wau")
    )


EWMA_ALPHA = 0.3


@query(
    "q_ewma_value",
    oracle=f"""
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           ROUND(list_reduce(vals,
                 (a, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * a), 4)
               AS ewma
    FROM (SELECT user_id, ARRAY_AGG(value ORDER BY ts, event_id) AS vals
          FROM events GROUP BY user_id)
    """,
)
def q_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: per-user exponentially-weighted moving average of event
    values: the recurrence mean <- alpha*x + (1-alpha)*mean that a
    streaming detector would carry in GroupState across micro-batches,
    folded over history in one pass.

    The fold is a codegen'd `aggregate` over the per-user ordered
    value array, seeded with the FIRST value and folding the rest --
    exactly DuckDB's list_reduce semantics, same left-to-right double
    arithmetic, so the engines agree bitwise. Scale: one exchange
    (groupBy user_id); per-user history must fit an array, which is
    the same bound the sort-based window alternative has; unbounded
    histories need a streaming fold whose state carries the
    accumulator."""
    ev = load(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    grouped = ev.groupBy("user_id").agg(vals.alias("vals"))
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(EWMA_ALPHA) * x + F.lit(1 - EWMA_ALPHA) * acc,
    )
    return grouped.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(ewma, 4).alias("ewma"),
    )


@query(
    "q_weekday_seasonality",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1
    ), prof AS (
        SELECT isodow(d) - 1 AS dow, COUNT(*)::BIGINT AS n_days,
               ROUND(AVG(cnt), 2) AS avg_cnt
        FROM daily GROUP BY 1
    )
    SELECT dow, n_days, avg_cnt,
           ROUND(avg_cnt / SUM(avg_cnt) OVER (), 4) AS share
    FROM prof
    """,
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS+ (r11): day-of-week seasonal profile -- mean daily event
    volume per weekday and its share of the weekly total, the
    seasonal baseline an anomaly detector divides out before
    thresholding (an EWMA detector's calibration table).

    Plan shape: one date-grain partial-agg over events (the only
    full-data pass), then a 7-row weekday aggregate; the share window
    runs over those 7 rows -- aggregate-over-aggregate, never a
    full-data window. Weekday key is Monday=0 in BOTH engines
    (Spark `weekday` == DuckDB `isodow - 1`; `dayofweek` differs
    between them and is avoided)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    prof = daily.groupBy(F.weekday("d").alias("dow")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.avg("cnt"), 2).alias("avg_cnt"),
    )
    return prof.select(
        "dow",
        "n_days",
        "avg_cnt",
        F.round(
            F.col("avg_cnt") / F.sum("avg_cnt").over(Window.partitionBy()),
            4,
        ).alias("share"),
    )
