"""Streaming operators: memory-sink smoke + semantics checks."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

from pyspark.sql import functions as F


def _ts(day, h, m=0):
    return dt.datetime(2024, 1, day, h, m)


def test_detect_sessions_stream(spark):
    """cleaning→idle transition emits one session with start/end
    battery (the reference's monitor semantics, pipeline.py:132-196)."""
    from roborock_data_pipeline_spark.streaming.sessionize import (
        SESSION_SCHEMA,
        detect_sessions_stream,
    )

    rows = [
        ("bot1", _ts(1, 8), "charging", 100),
        ("bot1", _ts(1, 9), "cleaning", 98),
        ("bot1", _ts(1, 10), "cleaning", 70),
        ("bot1", _ts(1, 11), "charging", 55),   # ← end edge
        ("bot2", _ts(1, 9), "idle", 80),        # never cleans
        ("bot3", _ts(1, 9), "cleaning", 90),    # still cleaning at end
    ]
    src_dir = tempfile.mkdtemp()
    try:
        spark.createDataFrame(
            rows, "device_name string, ts timestamp, state string, battery int"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(
                "device_name string, ts timestamp, state string, battery int"
            )
            .parquet(src_dir)
        )
        q = (
            detect_sessions_stream(stream)
            .writeStream.format("memory")
            .queryName("sessions_out")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM sessions_out").collect()
        q.stop()
        assert len(got) == 1
        s = got[0]
        assert s.device_name == "bot1"
        assert s.battery_start == 98 and s.battery_end == 55
        assert s.session_start == _ts(1, 9) and s.session_end == _ts(1, 11)
        assert [f.name for f in SESSION_SCHEMA] == list(got[0].asDict())
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_hourly_rollup_stream_matches_batch(spark, sf_dir):
    """Streaming tumbling window over the events files == the batch
    q_tumbling_window result (same date_trunc semantics)."""
    from roborock_data_pipeline_spark.operators.windows import q_tumbling_window
    from roborock_data_pipeline_spark.streaming.aggregations import (
        events_stream,
        hourly_rollup_stream,
    )

    q = (
        hourly_rollup_stream(events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("rollup_out")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    stream_rows = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    q.stop()
    batch_rows = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in q_tumbling_window(spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows


def test_incremental_sync_is_idempotent(spark, sf_dir):
    """Trigger.AvailableNow + checkpoint: second run adds zero rows
    (the exactly-once fix for the reference's T5 at-most-once bug)."""
    from roborock_data_pipeline_spark.streaming.aggregations import incremental_sync

    ckpt, out = tempfile.mkdtemp(), tempfile.mkdtemp() + "/out"
    try:
        incremental_sync(spark, sf_dir, ckpt, out)
        n1 = spark.read.parquet(out).count()
        incremental_sync(spark, sf_dir, ckpt, out)
        n2 = spark.read.parquet(out).count()
        assert n1 > 0
        assert n2 == n1
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out.rsplit("/", 1)[0], ignore_errors=True)


def test_session_state_survives_micro_batch_boundary(spark):
    """T2 depth: a device mid-cleaning when a micro-batch ends must
    still yield exactly ONE session once the idle tick arrives in a
    LATER micro-batch — i.e. the (prev_state, start_ts, start_battery)
    tuple in GroupState genuinely carries across batches (the
    reference's in-memory dicts lose it on any restart)."""
    from roborock_data_pipeline_spark.streaming.sessionize import (
        detect_sessions_stream,
    )

    schema = "device_name string, ts timestamp, state string, battery int"
    src_dir = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()
    try:
        # batch 1: cleaning starts, no end edge yet
        spark.createDataFrame(
            [
                ("bot1", _ts(1, 8), "charging", 100),
                ("bot1", _ts(1, 9), "cleaning", 98),
                ("bot1", _ts(1, 10), "cleaning", 80),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src_dir)

        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            detect_sessions_stream(stream)
            .writeStream.format("memory")
            .queryName("sessions_mb")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM sessions_mb").count() == 0  # still open

        # batch 2 (new file → new micro-batch): the end edge
        spark.createDataFrame(
            [("bot1", _ts(1, 11), "charging", 55)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM sessions_mb").collect()
        q.stop()

        assert len(got) == 1
        s = got[0]
        # start captured in batch 1, end in batch 2 → state crossed over
        assert s.session_start == _ts(1, 9) and s.session_end == _ts(1, 11)
        assert s.battery_start == 98 and s.battery_end == 55
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_dedup_stream_drops_cross_batch_redelivery(spark):
    """T7+ semantics: a QoS-1 re-delivery of the same event_id in a
    LATER micro-batch (still inside the watermark) is dropped — the
    dedup state genuinely spans micro-batches."""
    from roborock_data_pipeline_spark.streaming.aggregations import dedup_stream

    schema = "event_id long, ts timestamp, value double"
    src_dir = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()
    try:
        spark.createDataFrame(
            [(1, _ts(1, 8), 10.0), (2, _ts(1, 8, 5), 20.0), (2, _ts(1, 8, 5), 20.0)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src_dir)

        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            dedup_stream(stream)
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        # batch 2: event 1 re-delivered 10 min later + one new event
        spark.createDataFrame(
            [(1, _ts(1, 8, 10), 10.0), (3, _ts(1, 8, 11), 30.0)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        got = sorted(
            r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect()
        )
        q.stop()
        assert got == [1, 2, 3]  # each id exactly once, across batches
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides) emits
    exactly the batch q_view_purchase_pairs result."""
    from roborock_data_pipeline_spark.operators.joins import (
        q_view_purchase_pairs,
    )
    from roborock_data_pipeline_spark.streaming.aggregations import (
        events_stream,
        purchase_view_join_stream,
    )

    q = (
        purchase_view_join_stream(events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("ssjoin_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    got = {
        (r.purchase_id, r.view_id, r.user_id)
        for r in spark.sql("SELECT * FROM ssjoin_out").collect()
    }
    q.stop()
    expect = {
        (r.purchase_id, r.view_id, r.user_id)
        for r in q_view_purchase_pairs(spark, sf_dir).collect()
    }
    assert got == expect and len(expect) > 0


def test_sessionizer_survives_restart(spark):
    """Checkpoint durability: stop the query mid-session, start a NEW
    query object on the same checkpoint, deliver the end edge — still
    exactly one session with state from before the restart."""
    from roborock_data_pipeline_spark.streaming.sessionize import (
        detect_sessions_stream,
    )

    schema = "device_name string, ts timestamp, state string, battery int"
    src_dir = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()

    out_dir = tempfile.mkdtemp() + "/out"

    def start_query():
        # file sink, not memory: the memory sink cannot recover from a
        # checkpoint, and restart recovery is exactly what's under test
        stream = spark.readStream.schema(schema).parquet(src_dir)
        return (
            detect_sessions_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    try:
        spark.createDataFrame(
            [
                ("bot1", _ts(1, 8), "charging", 100),
                ("bot1", _ts(1, 9), "cleaning", 98),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q1 = start_query()
        q1.processAllAvailable()
        q1.stop()  # ← restart boundary: session still open in state

        spark.createDataFrame(
            [("bot1", _ts(1, 11), "charging", 55)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q2 = start_query()
        q2.processAllAvailable()
        got = spark.read.parquet(out_dir).collect()
        q2.stop()

        assert len(got) == 1
        s = got[0]
        assert s.session_start == _ts(1, 9) and s.session_end == _ts(1, 11)
        assert s.battery_start == 98 and s.battery_end == 55
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out_dir.rsplit("/", 1)[0], ignore_errors=True)


def test_monitor_batch_fold_matches_session_stream(spark, tmp_path):
    """Twin pin for pipeline.mode_monitor: its JVM window fold over the
    files landed since the last call must emit exactly the sessions
    detect_sessions_stream's per-row GroupState loop emits, file by
    file -- a session spanning files, null state and battery, a state
    that is neither cleaning nor idle, and mixed case included."""
    from roborock_data_pipeline_spark import pipeline, schemas
    from roborock_data_pipeline_spark.sources import sinks
    from roborock_data_pipeline_spark.streaming.sessionize import (
        detect_sessions_stream,
    )
    from pyspark.sql import types as T

    status = T.StructType([
        T.StructField(f.name, f.dataType, True) for f in schemas.DEVICE_STATUS
    ])
    cloud, warehouse, ckpt = (str(tmp_path / n) for n in ("c", "w", "k"))
    src = f"{cloud}/device_status"
    os.makedirs(src)
    files = [
        [("bot1", 1, "charging", 100), ("bot1", 2, "cleaning", None),
         ("bot1", 3, "cleaning", 90),
         ("bot2", 1, "cleaning", 80), ("bot2", 2, "error", 79),
         ("bot2", 3, "idle", 79), ("bot2", 4, "cleaning", 78),
         ("bot3", 1, "cleaning", 70), ("bot3", 2, None, 69),
         ("bot3", 3, "cleaning", 68), ("bot5", 1, "idle", 50)],
        [("bot1", 5, "cleaning", 85), ("bot1", 6, "idle", 80),
         ("bot2", 5, "zone_cleaning", 77), ("bot2", 6, "paused", None),
         ("bot3", 4, "charging", 67), ("bot4", 4, "Cleaning", 60),
         ("bot6", 4, "cleaning", 40)],
        [("bot4", 7, "IDLE", 55), ("bot1", 7, "segment_cleaning", 79),
         ("bot1", 8, "returning", 78), ("bot1", 9, "charger", 78),
         ("bot6", 8, "spot_cleaning", 35)],
    ]
    stream = (
        spark.readStream.schema(schemas.DEVICE_STATUS).parquet(src)
        .select("device_name", F.col("timestamp").alias("ts"), "state", "battery")
    )
    q = (
        detect_sessions_stream(stream)
        .writeStream.format("memory")
        .queryName("twin_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "stream-ckpt"))
        .start()
    )
    try:
        for polls in files:
            rows = [(_ts(1, h), d, st, b, None, None, None, None, None, None, None)
                    for d, h, st, b in polls]
            spark.createDataFrame(rows, status).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
            pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
            streamed = sorted(
                tuple(r) for r in spark.sql("SELECT * FROM twin_sessions").collect()
            )
            out = sinks.table_path(warehouse, "cleaning_history_stream")
            folded = sorted(
                tuple(r) for r in spark.read.parquet(out).collect()
            ) if os.path.isdir(out) else []
            assert folded == streamed
    finally:
        q.stop()
    assert folded == [
        ("bot1", _ts(1, 2), _ts(1, 6), None, 80),
        ("bot2", _ts(1, 4), _ts(1, 6), 78, None),
        ("bot3", _ts(1, 3), _ts(1, 4), 68, 67),
        ("bot4", _ts(1, 4), _ts(1, 7), 60, 55),
    ]


def test_ewma_batch_fold_matches_streaming_recurrence(spark):
    """Twin pin for q_ewma_value: the codegen'd aggregate() fold the
    batch query uses must produce the same mean as the streaming
    detector's per-row GroupState recurrence on identical data — the
    JVM fold and the pandas state loop are the same EWMA, proven, not
    asserted in prose."""
    import pandas as pd
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.streaming.anomaly import (
        ALPHA,
        _detect_anomalies,
    )

    values = [50.0, 51.0, 49.5, 80.0, 50.2, 50.1, 49.9, 12.5]

    class FakeState:
        exists = False
        updated = None

        def update(self, v):
            self.updated = v

    state = FakeState()
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-02-01", periods=len(values), freq="min"),
        "value": values,
    })
    list(_detect_anomalies(("bot1",), iter([pdf]), state))
    stream_mean = state.updated[0]

    df = spark.createDataFrame([(values,)], "vals array<double>")
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(ALPHA) * x + F.lit(1 - ALPHA) * acc,
    )
    batch_mean = df.select(fold.alias("m")).collect()[0]["m"]
    assert abs(batch_mean - stream_mean) < 1e-12


def test_anomaly_detector_ewma_state(spark):
    """T2 (numeric twin): a spike after warm-up alerts; steady-state
    readings never do; state carries across micro-batches (the spike
    arrives in batch 2)."""
    from roborock_data_pipeline_spark.streaming.anomaly import (
        detect_anomalies_stream,
    )

    schema = "device_name string, ts timestamp, value double"
    src_dir = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()
    try:
        steady = [
            ("bot1", _ts(1, 8, m), 50.0 + (m % 3 - 1) * 0.5) for m in range(10)
        ]
        spark.createDataFrame(steady, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            detect_anomalies_stream(stream)
            .writeStream.format("memory")
            .queryName("alerts_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM alerts_out").count() == 0  # warm-up ok

        spark.createDataFrame(
            [("bot1", _ts(1, 9), 500.0), ("bot1", _ts(1, 9, 1), 50.0)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        alerts = spark.sql("SELECT * FROM alerts_out").collect()
        q.stop()
        assert len(alerts) >= 1
        spike = [a for a in alerts if a.value == 500.0]
        assert len(spike) == 1 and abs(spike[0].zscore) > 3
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_left_outer_attribution(spark):
    """Watermarked LEFT OUTER stream-stream join: matched purchases
    emit immediately; an unmatched (organic) purchase emits with NULL
    view_id only after the watermark passes its match window."""
    from roborock_data_pipeline_spark.streaming.aggregations import (
        purchase_attribution_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src_dir = tempfile.mkdtemp()
    ckpt = tempfile.mkdtemp()
    try:
        batch1 = [
            (1, _ts(1, 8, 30), 7, "view"),
            (2, _ts(1, 9), 7, "purchase"),      # matched: view 30 min before
            (3, _ts(1, 9), 8, "purchase"),      # organic: no view for user 8
        ]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            purchase_attribution_stream(stream)
            .writeStream.format("memory")
            .queryName("attrib_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.view_id)
            for r in spark.sql("SELECT * FROM attrib_out").collect()
        }
        assert (2, 1) in got          # matched pair emits immediately
        assert (3, None) not in got   # organic row must WAIT for watermark

        # advance event time far past purchase 3's match window on
        # BOTH sides: the operator watermark is min(view wm, purchase
        # wm), so each filtered branch needs a later event
        spark.createDataFrame(
            [(99, _ts(2, 12), 9, "view"), (100, _ts(2, 12), 9, "purchase")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        q.processAllAvailable()  # outer results flush a batch after the wm advance
        got = {
            (r.purchase_id, r.view_id)
            for r in spark.sql("SELECT * FROM attrib_out").collect()
        }
        q.stop()
        assert (2, 1) in got and (3, None) in got
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_trending_stream_accumulates_across_batches(spark, tmp_path):
    """foreachBatch leaderboard: delta counts merge additively across
    micro-batches (an hour window split over two batches ranks on the
    COMBINED count), and the published board equals the one-shot
    leaderboard over all events."""
    from roborock_data_pipeline_spark.streaming.trending import (
        leaderboard,
        read_board,
        trending_stream,
    )

    schema = "event_id long, ts timestamp, event_type string"
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    batch1 = [
        (1, _ts(1, 8, 5), "view"),
        (2, _ts(1, 8, 10), "view"),
        (3, _ts(1, 8, 15), "click"),
        (4, _ts(1, 8, 20), "click"),
        (5, _ts(1, 8, 25), "purchase"),
    ]
    # batch 2 adds 3 purchases INTO THE SAME 08:00 window: purchase
    # must overtake view/click only if deltas accumulated
    batch2 = [
        (6, _ts(1, 8, 40), "purchase"),
        (7, _ts(1, 8, 45), "purchase"),
        (8, _ts(1, 8, 50), "purchase"),
        (9, _ts(1, 9, 5), "signup"),
    ]
    import time as _t

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    _t.sleep(1.1)  # distinct mtimes → deterministic two-batch split
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir)
    q = trending_stream(stream, ckpt, wh)
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type, r.cnt, r.rnk)
        for r in read_board(spark, wh).collect()
    }
    all_events = spark.createDataFrame(batch1 + batch2, schema)
    expected_totals = all_events.groupBy(
        F.window("ts", "1 hour").getField("start").alias("win"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    expected = {
        (r.window_start, r.event_type, r.cnt, r.rnk)
        for r in leaderboard(expected_totals).collect()
    }
    assert got == expected
    # the cross-batch accumulation specifically: purchase leads 08:00
    assert ("2024-01-01 08:00:00", "purchase", 4, 1) in got
