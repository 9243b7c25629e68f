"""End-to-end pipeline modes over a synthetic device cloud."""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import types as T

from roborock_data_pipeline_spark import pipeline, schemas
from roborock_data_pipeline_spark.sources import sinks


def _ts(day, h, m=0):
    return dt.datetime(2024, 2, day, h, m)


@pytest.fixture()
def cloud_and_warehouse(spark):
    cloud = tempfile.mkdtemp()
    warehouse = tempfile.mkdtemp()
    status_rows = [
        # (timestamp, device, state, battery, fan, wbs, wbm, mop, err, clean_time, clean_area)
        (_ts(1, 8), "bot1", "charging", 100, "balanced", 1, 202, "standard", None, 30, 25.5),
        (_ts(1, 9), "bot1", "cleaning", 95, "balanced", 1, 202, "standard", None, 35, 30.0),
        (_ts(1, 10), "bot1", "charging", 70, "balanced", 1, 202, "standard", None, 40, 33.2),
        (_ts(1, 9), "bot2", "idle", 88, "quiet", None, None, None, None, 10, 8.0),
    ]
    rec_rows = [
        (_ts(1, 12), "bot1", _ts(1, 9), 55.0, 33.2, "vacuum", "auto", None, "completed"),
        (_ts(1, 12), "bot1", _ts(1, 6), 40.0, 28.1, "vacuum", "auto", None, "completed"),
        (_ts(1, 12), "bot2", _ts(1, 7), 12.0, 8.0, "mop", "zone", 3, "aborted"),
    ]
    spark.createDataFrame(status_rows, schemas.DEVICE_STATUS).write.mode(
        "overwrite"
    ).parquet(f"{cloud}/device_status")
    spark.createDataFrame(rec_rows, schemas.CLEANING_RECORDS).write.mode(
        "overwrite"
    ).parquet(f"{cloud}/cleaning_records")
    yield cloud, warehouse
    shutil.rmtree(cloud, ignore_errors=True)
    shutil.rmtree(warehouse, ignore_errors=True)


def test_setup_provisions_all_tables(spark, cloud_and_warehouse):
    _, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    for name in sinks.WAREHOUSE_TABLES:
        assert sinks.read_table(spark, warehouse, name).count() == 0
    pipeline.mode_setup(spark, warehouse)  # idempotent (S8 'exists' path)


def test_status_prints_and_mutates_nothing(spark, cloud_and_warehouse, capsys):
    """'status' mode (VERDICT r3 #5): the reference's quick_status —
    latest tick + lifetime totals per device, printed read-only; every
    warehouse table holds exactly as many rows after as before."""
    cloud, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    before = {
        t: sinks.read_table(spark, warehouse, t).count()
        for t in sinks.WAREHOUSE_TABLES
    }
    snap = {r.device_name: r for r in pipeline.mode_status(spark, cloud).collect()}
    out = capsys.readouterr().out
    assert "Device: bot1" in out and "Device: bot2" in out
    assert "Battery: 70%" in out  # bot1's LATEST tick, not its first
    assert "[Clean Summary - Lifetime Stats]" in out
    assert snap["bot1"].state == "charging" and snap["bot1"].battery == 70
    assert snap["bot1"].total_clean_count == 3
    assert snap["bot2"].total_clean_count == 1
    after = {
        t: sinks.read_table(spark, warehouse, t).count()
        for t in sinks.WAREHOUSE_TABLES
    }
    assert after == before  # read-only: no table gained a row


def test_schedule_loops_smart_sync_fake_clock(spark, cloud_and_warehouse):
    """'schedule' mode (VERDICT r3 #5): N ticks of smart sync on an
    injected clock — no wall-time sleeps, interval passed through, and
    repeated ticks stay exactly-once (the counter gate holds)."""
    cloud, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    sleeps: list[float] = []
    ok = pipeline.mode_schedule(
        spark, cloud, warehouse, 120.0, max_runs=3, sleep=sleeps.append
    )
    assert ok == 3
    assert sleeps == [120.0, 120.0]  # sleeps BETWEEN ticks only
    cs = sinks.read_table(spark, warehouse, "clean_summary")
    # tick 1 appends one snapshot per device; ticks 2-3 see no counter
    # advance and append nothing
    assert cs.count() == 2


def test_log_appends_latest_status_per_device(spark, cloud_and_warehouse):
    cloud, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    pipeline.mode_log(spark, cloud, warehouse)
    rows = sinks.read_table(spark, warehouse, "device_status").collect()
    assert {r.device_name for r in rows} == {"bot1", "bot2"}
    bot1 = next(r for r in rows if r.device_name == "bot1")
    assert bot1.timestamp == _ts(1, 10)  # latest snapshot only


def test_smart_sync_is_exactly_once(spark, cloud_and_warehouse):
    cloud, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    pipeline.mode_smart(spark, cloud, warehouse)
    n1 = sinks.read_table(spark, warehouse, "clean_summary").count()
    pipeline.mode_smart(spark, cloud, warehouse)  # no new cleanings
    n2 = sinks.read_table(spark, warehouse, "clean_summary").count()
    assert n1 == 2  # one summary row per device
    assert n2 == n1  # rerun is a no-op (counter unchanged)


def test_record_sync_watermark(spark, cloud_and_warehouse):
    cloud, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    pipeline.mode_record_sync(spark, cloud, warehouse)
    n1 = sinks.read_table(spark, warehouse, "cleaning_records").count()
    assert n1 == 3
    # add one newer + one older (late) record to the cloud
    extra = [
        (_ts(2, 9), "bot1", _ts(2, 8), 20.0, 15.0, "vacuum", "auto", None, "completed"),
        (_ts(2, 9), "bot1", _ts(1, 1), 9.0, 5.0, "vacuum", "auto", None, "completed"),
    ]
    spark.createDataFrame(extra, schemas.CLEANING_RECORDS).write.mode(
        "append"
    ).parquet(f"{cloud}/cleaning_records")
    pipeline.mode_record_sync(spark, cloud, warehouse)
    rows = sinks.read_table(spark, warehouse, "cleaning_records").collect()
    # only the record past the watermark lands; the stale one is
    # dropped (documented reference semantics, pipeline.py:725-726)
    assert len(rows) == 4
    assert max(r.start_time for r in rows) == _ts(2, 8)


def test_monitor_detects_session(spark, cloud_and_warehouse):
    """The sessions dir is flat part files that a plain reader opens
    with SESSION_SCHEMA's names and types (UTC timestamps, int
    batteries)."""
    from roborock_data_pipeline_spark.streaming.sessionize import SESSION_SCHEMA

    cloud, warehouse = cloud_and_warehouse
    ckpt = tempfile.mkdtemp()
    try:
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
        df = spark.read.parquet(
            sinks.table_path(warehouse, "cleaning_history_stream")
        )
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in SESSION_SCHEMA
        ]
        out = df.collect()
        assert len(out) == 1
        assert out[0].device_name == "bot1"
        assert out[0].battery_start == 95 and out[0].battery_end == 70
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


# device_status with every column nullable, so a test can land a null
# state the way a device cloud might
_STATUS = T.StructType([
    T.StructField(f.name, f.dataType, True) for f in schemas.DEVICE_STATUS
])


def _land(spark, cloud, polls):
    """Land one new device_status file of (device, ts, state, battery)."""
    rows = [(ts, d, st, b, None, None, None, None, None, None, None)
            for d, ts, st, b in polls]
    spark.createDataFrame(rows, _STATUS).coalesce(1).write.mode(
        "append"
    ).parquet(f"{cloud}/device_status")


def _sessions(spark, warehouse):
    df = spark.read.parquet(sinks.table_path(warehouse, "cleaning_history_stream"))
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def monitor_dirs(tmp_path):
    cloud, warehouse, ckpt = (str(tmp_path / n) for n in ("c", "w", "k"))
    return cloud, warehouse, ckpt


def test_monitor_session_open_across_calls(spark, monitor_dirs):
    """A session that starts in one call's files and ends in the
    next's comes out once, with its start from the first call."""
    cloud, warehouse, ckpt = monitor_dirs
    _land(spark, cloud, [("bot1", _ts(1, 8), "charging", 100),
                         ("bot1", _ts(1, 9), "cleaning", 98)])
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    assert not os.path.exists(sinks.table_path(warehouse, "cleaning_history_stream"))
    _land(spark, cloud, [("bot1", _ts(1, 10), "cleaning", 80),
                         ("bot1", _ts(1, 11), "idle", 75)])
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)  # nothing new: no-op
    assert _sessions(spark, warehouse) == [("bot1", _ts(1, 9), _ts(1, 11), 98, 75)]


@pytest.mark.local_fs_only("the monitor's pointer must outlive the process; the in-memory backend does not")
def test_monitor_new_process_resumes_from_checkpoint(spark, monitor_dirs):
    """A new process (the CLI) on the same checkpoint carries the open
    session and emits it exactly once."""
    cloud, warehouse, ckpt = monitor_dirs
    _land(spark, cloud, [("bot1", _ts(1, 9), "cleaning", 98),
                         ("bot2", _ts(1, 9), "idle", 60)])
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    _land(spark, cloud, [("bot1", _ts(1, 10), "charging", 70)])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "roborock_data_pipeline_spark.pipeline",
         "--mode", "monitor", "--cloud", cloud, "--warehouse", warehouse,
         "--checkpoint", ckpt],
        cwd=repo, capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)  # nothing new
    assert _sessions(spark, warehouse) == [("bot1", _ts(1, 9), _ts(1, 10), 98, 70)]


def test_monitor_crash_between_publish_and_commit_emits_once(spark, monitor_dirs, monkeypatch):
    """The sessions file is published before the state commit; a
    crash between them replays the same epoch, which replaces the same
    file -- every session once, including ones from files that landed
    after the crash."""
    from roborock_data_pipeline_spark.sources import commit_provider

    cloud, warehouse, ckpt = monitor_dirs
    _land(spark, cloud, [("bot1", _ts(1, 9), "cleaning", 98),
                         ("bot1", _ts(1, 10), "idle", 90)])
    real = commit_provider.commit_pointer

    def crash(path, data):
        if path.endswith(pipeline.MONITOR_POINTER):
            raise OSError("injected crash before the state commit")
        real(path, data)

    monkeypatch.setattr(commit_provider, "commit_pointer", crash)
    with pytest.raises(OSError, match="injected"):
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    assert len(_sessions(spark, warehouse)) == 1  # published, not committed
    monkeypatch.setattr(commit_provider, "commit_pointer", real)
    _land(spark, cloud, [("bot2", _ts(1, 9), "cleaning", 50),
                         ("bot2", _ts(1, 10), "charging", 40)])
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    assert _sessions(spark, warehouse) == [
        ("bot1", _ts(1, 9), _ts(1, 10), 98, 90),
        ("bot2", _ts(1, 9), _ts(1, 10), 50, 40),
    ]


def test_monitor_refuses_streaming_layouts(spark, monitor_dirs):
    """A file-sink log in the sessions dir or a Structured Streaming
    checkpoint is refused by name, before any work."""
    cloud, warehouse, ckpt = monitor_dirs
    _land(spark, cloud, [("bot1", _ts(1, 9), "idle", 60)])
    log = os.path.join(sinks.table_path(warehouse, "cleaning_history_stream"),
                       "_spark_metadata")
    os.makedirs(log)
    with pytest.raises(ValueError, match=re.escape(log)):
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    shutil.rmtree(log)
    offsets = os.path.join(ckpt, "offsets")
    os.makedirs(offsets)
    with pytest.raises(ValueError, match=re.escape(offsets)):
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)


def test_monitor_runs_two_jobs_warm(spark, monitor_dirs):
    """Job-count pin: on a warm checkpoint the monitor is one shuffle
    job and one result job, with no Python-worker stage."""
    from perfbench.trace import SparkCounters

    cloud, warehouse, ckpt = monitor_dirs
    _land(spark, cloud, [("bot1", _ts(1, 9), "cleaning", 98)])
    pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    _land(spark, cloud, [("bot1", _ts(1, 10), "idle", 90)])
    counters = SparkCounters(spark)
    first = counters.executions()
    counters.set_group("monitor-pin")
    try:
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    counters.drain()
    assert counters.group_stats("monitor-pin")["jobs"] == 2
    assert counters.python_stats(first)["python.rows"] == 0
    assert len(_sessions(spark, warehouse)) == 1


def test_history_topk(spark, cloud_and_warehouse):
    cloud, _ = cloud_and_warehouse
    rows = pipeline.mode_history(spark, cloud, limit=2).collect()
    assert len(rows) == 2
    assert rows[0].start_time >= rows[1].start_time


def test_daily_summary_gold_table(spark, cloud_and_warehouse):
    cloud, warehouse = cloud_and_warehouse
    pipeline.mode_setup(spark, warehouse)
    pipeline.mode_record_sync(spark, cloud, warehouse)
    pipeline.mode_daily_summary(spark, warehouse)
    rows = sinks.read_table(spark, warehouse, "daily_summary").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.date == "2024-02-01"
    assert r.total_cleanings == 3
    assert r.total_area_m2 == pytest.approx(69.3)


def test_console_fallback_on_bad_sink(spark, cloud_and_warehouse, capsys):
    """S10: a failing sink prints the rows instead of losing them."""
    _, _ = cloud_and_warehouse
    df = spark.range(3).withColumnRenamed("id", "x")
    ok = sinks.append_with_console_fallback(
        df, "/proc/definitely/not/writable", "nope"
    )
    assert ok is False
    out = capsys.readouterr().out
    assert "sink fallback" in out


def test_mode_curate_funnel(spark, sf_dir, tmp_path):
    """End-to-end curation: funnel counts are monotone, the published
    corpus is atomic-complete, no dup-group loser survives, and every
    doc got a batch assignment."""
    from roborock_data_pipeline_spark import pipeline
    from roborock_data_pipeline_spark.operators.dedup import q_dup_groups

    out = str(tmp_path)
    funnel = pipeline.mode_curate(spark, sf_dir, out)
    assert (
        funnel["input"]
        >= funnel["after_dedup"]
        >= funnel["after_quality"]
        >= funnel["after_rebalance"]
        > 0
    )
    # read through the table surface: overwrite_rows publishes the
    # corpus as a manifest-committed snapshot table (layout v2), not
    # loose root parquet files
    cur = sinks.read_table(spark, out, "curated_corpus")
    assert cur.count() == funnel["after_rebalance"]
    losers = {
        r.doc_id
        for r in q_dup_groups(spark, sf_dir)
        .where("doc_id != group_id")
        .collect()
    }
    kept = {r.doc_id for r in cur.select("doc_id").collect()}
    assert not (losers & kept)
    assert cur.where("batch_id < 0 OR batch_id IS NULL").count() == 0


def test_mode_curate_exports_chunk_shards(spark, sf_dir, tmp_path):
    """The funnel's optional egress: curated docs are chunked with
    overlap and land as deterministic JSONL shards with a manifest
    whose totals match the published chunk count."""
    from roborock_data_pipeline_spark.pipeline import mode_curate
    from roborock_data_pipeline_spark.sources.export import (
        read_export,
        read_manifest,
    )

    out = str(tmp_path / "curated")
    funnel = mode_curate(spark, sf_dir, out, export_shards=4)
    assert funnel["exported_chunks"] >= funnel["published"]  # ≥1 chunk/doc

    shards_dir = f"{out}/train_shards"
    m = read_manifest(shards_dir)
    assert m["total_rows"] == funnel["exported_chunks"]
    back = read_export(spark, shards_dir)
    assert back.count() == m["total_rows"]
    # overlap invariant: every chunk carries ≤ window tokens and the
    # per-doc first chunk always starts the text
    assert back.agg({"n_tokens": "max"}).collect()[0][0] <= 32
