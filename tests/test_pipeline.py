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
    cloud, warehouse = cloud_and_warehouse
    ckpt = tempfile.mkdtemp()
    try:
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
        df = spark.read.parquet(
            sinks.table_path(warehouse, "cleaning_history_stream")
        )
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in schemas.SESSION_SCHEMA
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


def _reference_monitor(state, polls):
    """The reference's dict loop (pipeline.py:132-163) over one file's
    (device, ts, state, battery) polls: per device, in ts order, a
    cleaning-start edge captures ts and battery, and an idle edge
    after cleaning emits the session. ``state`` maps device ->
    (prev_state, start_ts, start_battery) and carries across calls."""
    by_device = {}
    for device, ts, st, battery in polls:
        by_device.setdefault(device, []).append((ts, st, battery))
    out = []
    for device, rows in by_device.items():
        prev, start_ts, start_battery = state.get(device, (None, None, None))
        for ts, st, battery in sorted(rows, key=lambda r: r[0]):
            cur = str(st).lower()
            was_cleaning = prev in schemas.CLEANING_STATES
            if cur in schemas.CLEANING_STATES and not was_cleaning:
                start_ts, start_battery = ts, battery
            elif was_cleaning and cur in schemas.IDLE_STATES:
                out.append((device, start_ts, ts, start_battery, battery))
                start_ts, start_battery = None, None
            prev = cur
        state[device] = (prev, start_ts, start_battery)
    return out


def test_monitor_fold_matches_reference_loop(spark, monitor_dirs):
    """Twin pin for mode_monitor: after every landed file, its JVM
    window fold emits exactly the sessions the reference's per-device
    dict loop emits -- a session spanning files, null state and
    battery, a state that is neither cleaning nor idle, and mixed case
    included."""
    cloud, warehouse, ckpt = monitor_dirs
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
    out = sinks.table_path(warehouse, "cleaning_history_stream")
    state, reference = {}, []
    for polls in files:
        polls = [(d, _ts(1, h), st, b) for d, h, st, b in polls]
        _land(spark, cloud, polls)
        pipeline.mode_monitor(spark, cloud, warehouse, ckpt)
        reference = sorted(reference + _reference_monitor(state, polls))
        folded = _sessions(spark, warehouse) if os.path.isdir(out) else []
        assert folded == reference
    assert folded == [
        ("bot1", _ts(1, 2), _ts(1, 6), None, 80),
        ("bot2", _ts(1, 4), _ts(1, 6), 78, None),
        ("bot3", _ts(1, 3), _ts(1, 4), 68, 67),
        ("bot4", _ts(1, 4), _ts(1, 7), 60, 55),
    ]


def _land_records(spark, cloud, recs):
    """Land one new cleaning_records file of (device, start, area)."""
    rows = [(start, d, start, 30.0, area, "vacuum", "auto", None, "completed")
            for d, start, area in recs]
    spark.createDataFrame(rows, schemas.CLEANING_RECORDS).coalesce(1).write.mode(
        "append"
    ).parquet(f"{cloud}/cleaning_records")


def _land_tick(spark, cloud, hour):
    """One ingest tick's landing: a status file and a records file."""
    _land(spark, cloud, [("bot1", _ts(1, hour), "cleaning", 90),
                         ("bot1", _ts(1, hour, 30), "idle", 80),
                         ("bot2", _ts(1, hour, 10), "idle", 60)])
    _land_records(spark, cloud, [("bot1", _ts(1, hour), 12.5),
                                 ("bot2", _ts(1, hour, 5), 3.25)])


def _group_stats(spark, step):
    """SparkCounters over the jobs ``step`` runs, under a fresh group."""
    import uuid

    from perfbench.trace import SparkCounters

    counters = SparkCounters(spark)
    group = f"pin-{uuid.uuid4().hex[:8]}"
    counters.set_group(group)
    try:
        step()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    counters.drain()
    return counters.group_stats(group)


def test_ingest_steps_job_counts_warm(spark, monitor_dirs):
    """Job-count pins for a warm ingest tick: record_sync is one
    scan-collect of the new files; smart one aggregate (a shuffle
    job and a result job); each gold refresh one aggregate plus its
    write. gold_maintenance runs after them, as perfbench's
    maintenance tick does: both golds are then already folded, so its
    jobs are the vacuum's merge writes, one per batch-log table."""
    from perfbench.ingest import RETAIN_BATCHES

    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    steps = {
        "record_sync": lambda: pipeline.mode_record_sync(spark, cloud, warehouse),
        "smart": lambda: pipeline.mode_smart(spark, cloud, warehouse),
        "refresh_daily": lambda: pipeline.refresh_daily_summary(spark, warehouse),
        "refresh_lifetime": lambda: pipeline.refresh_device_lifetime(spark, warehouse),
        "gold_maintenance": lambda: pipeline.gold_maintenance(
            spark, warehouse, retain_last_n=RETAIN_BATCHES),
    }
    for hour in (8, 9):  # two warm ticks: the third's vacuum has two batches to merge
        _land_tick(spark, cloud, hour)
        for step in steps.values():
            step()
    _land_tick(spark, cloud, 10)
    jobs = {name: _group_stats(spark, step)["jobs"] for name, step in steps.items()}
    assert jobs == {"record_sync": 1, "smart": 2, "refresh_daily": 2,
                    "refresh_lifetime": 2, "gold_maintenance": 2}
    for table in ("cleaning_records", "clean_summary"):
        assert sinks.read_table(spark, warehouse, table).count() == 6
        # the vacuum merged the two older batches: one base, one retained
        assert len(sinks.list_batches(warehouse, table)) == 2


@pytest.mark.parametrize("mode, source", [
    (pipeline.mode_record_sync, "cleaning_records"),
    (pipeline.mode_smart, "device_status"),
])
def test_sync_reads_only_the_files_landed_since(spark, monitor_dirs, mode, source):
    """Delta-sized sync: after two landed files were synced, the next
    call's jobs read the rows of the one file landed since, not the
    cloud's."""
    import pyarrow.parquet as pq

    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    _land_tick(spark, cloud, 8)
    _land_tick(spark, cloud, 9)
    mode(spark, cloud, warehouse)
    src = os.path.join(cloud, source)
    before = set(os.listdir(src))
    _land_tick(spark, cloud, 10)
    (landed,) = [f for f in set(os.listdir(src)) - before if f.endswith(".parquet")]
    rows = pq.read_metadata(os.path.join(src, landed)).num_rows
    stats = _group_stats(spark, lambda: mode(spark, cloud, warehouse))
    assert stats["input_rows"] == rows


def _marks(warehouse, name):
    return sinks.read_marks(warehouse, name)


def _sync_both(spark, cloud, warehouse):
    pipeline.mode_record_sync(spark, cloud, warehouse)
    pipeline.mode_smart(spark, cloud, warehouse)


def _summary_keys(spark, warehouse):
    cs = sinks.read_table(spark, warehouse, "clean_summary").collect()
    return sorted((r.device_name, r.total_clean_count) for r in cs)


def test_sync_crash_before_manifest_commit_publishes_once(spark, monitor_dirs, monkeypatch):
    """The batch is staged and named, then the _batches.json commit
    fails: nothing publishes and the marks stay, so the rerun folds
    the same files and publishes their rows once."""
    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    _land_tick(spark, cloud, 8)
    real = sinks.commit_pointer

    def crash(path, data):
        if path.endswith(sinks.BATCHES_MANIFEST):
            raise OSError("injected crash at the manifest commit")
        real(path, data)

    monkeypatch.setattr(sinks, "commit_pointer", crash)
    _sync_both(spark, cloud, warehouse)  # the console fallback reports it
    monkeypatch.undo()
    for name in ("cleaning_records", "clean_summary"):
        assert sinks.read_table(spark, warehouse, name).count() == 0
        assert _marks(warehouse, name) == {}
    _sync_both(spark, cloud, warehouse)
    _sync_both(spark, cloud, warehouse)  # nothing new: no-op
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 2
    assert _summary_keys(spark, warehouse) == [("bot1", 2), ("bot2", 1)]


def test_sync_on_stale_marks_publishes_nothing(spark, monitor_dirs, monkeypatch):
    """A sync whose marks moved between its read and its commit (a
    second sync of the same cloud committed first) would re-append
    every row that sync folded: the commit refuses, and the rows stay
    once."""
    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    _land_tick(spark, cloud, 8)
    pipeline.mode_record_sync(spark, cloud, warehouse)
    marks = _marks(warehouse, "cleaning_records")
    monkeypatch.setattr(sinks, "read_marks", lambda w, n: {})
    pipeline.mode_record_sync(spark, cloud, warehouse)  # the fallback reports it
    monkeypatch.undo()
    assert _marks(warehouse, "cleaning_records") == marks
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 2


def test_vacuum_between_syncs_keeps_the_marks(spark, monitor_dirs):
    """gold_maintenance's vacuum merges synced batches into a base and
    carries the marks over: the next sync folds only the new file, and
    no clean_summary row is repeated."""
    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    for hour in (8, 9, 10):
        _land_tick(spark, cloud, hour)
        _sync_both(spark, cloud, warehouse)
    marks = {n: _marks(warehouse, n) for n in ("cleaning_records", "clean_summary")}
    out = pipeline.gold_maintenance(spark, warehouse, retain_last_n=1)
    assert out["vacuumed"]["cleaning_records"] == 2
    assert out["vacuumed"]["clean_summary"] == 2
    assert {n: _marks(warehouse, n) for n in marks} == marks
    _sync_both(spark, cloud, warehouse)  # nothing new
    _land_tick(spark, cloud, 11)
    _sync_both(spark, cloud, warehouse)
    keys = _summary_keys(spark, warehouse)
    assert keys == sorted(set(keys))
    assert keys == [("bot1", n) for n in (2, 4, 6, 8)] + [("bot2", n) for n in (1, 2, 3, 4)]
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 8


def test_overwrite_of_a_synced_table_keeps_the_marks(spark, monitor_dirs):
    """overwrite_rows replaces a synced table's rows but not its fold
    position: the marks carry over, so files already folded are not
    synced again and a new file's rows are still filtered against
    the old high-water marks."""
    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    _land_tick(spark, cloud, 8)
    pipeline.mode_record_sync(spark, cloud, warehouse)
    marks = _marks(warehouse, "cleaning_records")
    recs = sinks.read_table(spark, warehouse, "cleaning_records")
    sinks.overwrite_rows(recs.where("device_name = 'bot1'"), warehouse, "cleaning_records")
    assert _marks(warehouse, "cleaning_records") == marks
    pipeline.mode_record_sync(spark, cloud, warehouse)  # nothing new
    _land_records(spark, cloud, [("bot2", _ts(1, 8, 5), 9.0),  # at bot2's mark
                                 ("bot2", _ts(1, 9), 4.0)])
    pipeline.mode_record_sync(spark, cloud, warehouse)
    got = sorted((r.device_name, r.start_time) for r in
                 sinks.read_table(spark, warehouse, "cleaning_records").collect())
    assert got == [("bot1", _ts(1, 8)), ("bot2", _ts(1, 9))]


def test_sync_refuses_a_table_without_marks(spark, monitor_dirs):
    """A table holding live batches but no sync marks -- synced by a
    build that kept its state nowhere but in the rows -- is refused
    by name, before any job."""
    cloud, warehouse, _ = monitor_dirs
    pipeline.mode_setup(spark, warehouse)
    _land_tick(spark, cloud, 8)
    sinks.append_rows(
        spark.read.schema(schemas.CLEANING_RECORDS).parquet(f"{cloud}/cleaning_records"),
        warehouse, "cleaning_records",
    )
    with pytest.raises(ValueError, match=re.escape(
        sinks.table_path(warehouse, "cleaning_records")
    )):
        pipeline.mode_record_sync(spark, cloud, warehouse)


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
