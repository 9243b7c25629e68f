"""Streaming windowed aggregations + incremental sync (SURVEY sec 2.I
T1/T3/T6).

- `hourly_rollup_stream`: the streaming twin of
  operators/windows.py::q_tumbling_window -- tumbling event-time
  window with a watermark for late data (the reference's
  string-compare watermark, pipeline.py:725-726, silently DROPS any
  late record; `withWatermark` admits bounded lateness instead).
- `incremental_sync`: Trigger.AvailableNow file-source run -- the
  exactly-once replacement for the reference's JSON-state one-shot
  sync (pipeline.py:472-572): the checkpoint replaces
  config/last_state.json, and state only advances when the sink
  batch commits (fixes the at-most-once bug T5, pipeline.py:562-568).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark import schemas


def events_stream(spark: SparkSession, sf_dir: str,
                  **options: str) -> DataFrame:
    """File-source readStream over the events table (stands in for
    the MQTT/HTTPS device feed, roborock_collector.py:295-352).
    Extra ``options`` reach the reader (e.g. maxFilesPerTrigger to
    force multi-micro-batch runs)."""
    from pyspark.sql import types as T

    from roborock_data_pipeline_spark.sources.tables import ns_timestamp_cols

    # same footer sniff as the batch loader: ns-encoded ts reads as
    # epoch-ns long and is truncated to us below
    ns = "ts" in ns_timestamp_cols(sf_dir, "events")
    schema = T.StructType([
        T.StructField(f.name, T.LongType(), f.nullable)
        if ns and f.name == "ts" else f
        for f in schemas.EVENTS.fields
    ])
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        # glob, not the bare file path: the file source requires its
        # inferred basePath to be a directory; the glob keeps sf_dir as
        # base while matching ONLY the events table (a bare sf_dir/
        # load would suck every table in, yielding all-null rows)
        .option("basePath", sf_dir)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.load(f"{sf_dir}/events*")
    if ns:
        # same ns->us conversion as the batch loader
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def hourly_rollup_stream(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour window per event_type with bounded lateness."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def incremental_sync(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """One Trigger.AvailableNow pass: process exactly the files not
    yet recorded in the checkpoint, append to the parquet sink,
    stop. Re-running with the same checkpoint is a no-op -- the
    idempotence invariant the reference enforces by hand with its
    counter file (state_manager.py:66-74)."""
    q = (
        events_stream(spark, sf_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, lateness: str = "1 hour"
) -> DataFrame:
    """T7+ (EXT): streaming exactly-once dedup of re-delivered events.

    The reference's MQTT feed is QoS-1 (at-least-once,
    roborock_connect.py:118-141): a broker retry re-delivers the same
    reading, and the reference would double-append it to the sink.
    `dropDuplicatesWithinWatermark` keeps one row per key while the
    key stays inside the watermark horizon -- the state store holds
    O(events per lateness window), NOT O(stream history), so at
    100 TB/day the dedup state stays bounded and is sharded across
    executors by the key hash like any stateful operator.
    """
    return events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def purchase_view_join_stream(events: DataFrame) -> DataFrame:
    """T-EXT: stream-stream interval join -- every purchase matched to
    the same user's views in the preceding hour.

    Both sides carry watermarks so the join state is bounded: a
    buffered view can be dropped once event time passes view.ts + 1 h
    (no purchase can match it anymore), which Spark derives from the
    time-range condition -- state is O(events per hour), not O(stream).
    Batch twin (same semantics, oracle-checked): operators/joins.py::
    q_view_purchase_pairs; equality is pinned in tests/test_streaming.py.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return purchases.join(
        views,
        F.expr(
            """
            p_user = v_user AND
            v_ts <= p_ts AND
            v_ts > p_ts - INTERVAL 1 HOUR
            """
        ),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))


def purchase_attribution_stream(events: DataFrame) -> DataFrame:
    """T-EXT: watermarked stream-stream LEFT OUTER interval join --
    every purchase attributed to a preceding-hour view when one
    exists, or emitted with a NULL view_id (organic purchase) once
    the watermark proves no matching view can still arrive.

    The outer side is the part the inner join (purchase_view_join_
    stream) cannot express: a purchase with no view must wait until
    event time passes p_ts + 1 h before the engine may emit the
    unmatched row -- exactly the late-data contract `withWatermark`
    encodes. State stays O(events per hour) per the time-range
    condition; the NULL-emission check lives in
    tests/test_streaming.py::test_stream_left_outer_attribution.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return purchases.join(
        views,
        F.expr(
            """
            p_user = v_user AND
            v_ts <= p_ts AND
            v_ts > p_ts - INTERVAL 1 HOUR
            """
        ),
        "left_outer",
    ).select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("purchase_ts"),
    )
