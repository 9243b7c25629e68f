"""Job-level atomic sink commit (VERDICT r1 'What's missing' #3).

The failure the staged-rename protects against: a raw parquet
``mode("append")`` commits per-task part-files as tasks finish, so a
job dying mid-write leaves SOME new rows visible; the sink-derived
watermark (pipeline.mode_record_sync) would then advance past older
rows that were lost — the reference's T5 silent-loss bug
(/root/reference/pipeline.py:562-568) reintroduced at job level.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roborock_data_pipeline_spark import pipeline, schemas
from roborock_data_pipeline_spark.sources import sinks


def _ts(day, h, m=0):
    return dt.datetime(2024, 2, day, h, m)


@pytest.fixture()
def warehouse():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _records_df(spark, rows):
    return spark.createDataFrame(rows, schemas.CLEANING_RECORDS)


GOOD_ROWS = [
    (_ts(1, 12), "bot1", _ts(1, 6), 40.0, 28.1, "vacuum", "auto", None, "completed"),
    (_ts(1, 12), "bot1", _ts(1, 9), 55.0, 33.2, "vacuum", "auto", None, "completed"),
]


def _poisoned(df):
    """A DataFrame whose write job always fails on one row (test-only
    Python UDF — the hot-path no-UDF policy covers operators, not
    fault injection)."""

    @F.udf(T.DoubleType())
    def boom(x):
        if x is not None and x > 50:
            raise RuntimeError("injected mid-job failure")
        return x

    return df.withColumn("duration_minutes", boom("duration_minutes"))


def test_failed_append_publishes_nothing(spark, warehouse):
    """A job that dies mid-write must leave the table byte-identical:
    no partial part-files, no orphaned staging dirs."""
    sinks.setup_warehouse(spark, warehouse)
    with pytest.raises(Exception):
        sinks.append_rows(_poisoned(_records_df(spark, GOOD_ROWS)), warehouse, "cleaning_records")
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 0
    table_dir = sinks.table_path(warehouse, "cleaning_records")
    assert not [d for d in os.listdir(table_dir) if d.startswith("batch-")]
    staging = os.path.join(warehouse, ".staging")
    assert not os.listdir(staging)  # failed batch cleaned up


def test_watermark_cannot_advance_past_lost_rows(spark, warehouse):
    """End-to-end T5 fix: a failed sync publishes nothing, so the
    re-run still sees watermark == old state and re-emits EVERY missing
    record (with per-row appends, the newer record could commit while
    the older was lost, silently skipping it forever)."""
    cloud = tempfile.mkdtemp()
    try:
        spark.createDataFrame(GOOD_ROWS, schemas.CLEANING_RECORDS).write.mode(
            "overwrite"
        ).parquet(f"{cloud}/cleaning_records")
        sinks.setup_warehouse(spark, warehouse)

        # failed first sync: job dies mid-write (rows poisoned)
        recs = spark.read.schema(schemas.CLEANING_RECORDS).parquet(
            f"{cloud}/cleaning_records"
        )
        with pytest.raises(Exception):
            sinks.append_rows(_poisoned(recs), warehouse, "cleaning_records")

        # watermark derived from the sink is still epoch → the honest
        # re-run (now healthy) emits BOTH records, oldest included
        pipeline.mode_record_sync(spark, cloud, warehouse)
        got = sorted(
            r.start_time
            for r in sinks.read_table(spark, warehouse, "cleaning_records").collect()
        )
        assert got == [_ts(1, 6), _ts(1, 9)]
    finally:
        shutil.rmtree(cloud, ignore_errors=True)


def test_append_then_read_roundtrip(spark, warehouse):
    sinks.setup_warehouse(spark, warehouse)
    sinks.append_rows(_records_df(spark, GOOD_ROWS), warehouse, "cleaning_records")
    sinks.append_rows(_records_df(spark, GOOD_ROWS[:1]), warehouse, "cleaning_records")
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 3


def test_overwrite_rows_replaces(spark, warehouse):
    sinks.setup_warehouse(spark, warehouse)
    sinks.append_rows(_records_df(spark, GOOD_ROWS), warehouse, "cleaning_records")
    sinks.overwrite_rows(_records_df(spark, GOOD_ROWS[:1]), warehouse, "cleaning_records")
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 1


def test_daily_summary_rerun_is_idempotent(spark, warehouse):
    """A6 gold rebuild: re-running daily_summary must not duplicate
    per-date rows (ADVICE r1: blind append did)."""
    sinks.setup_warehouse(spark, warehouse)
    sinks.append_rows(_records_df(spark, GOOD_ROWS), warehouse, "cleaning_records")
    pipeline.mode_daily_summary(spark, warehouse)
    n1 = sinks.read_table(spark, warehouse, "daily_summary").count()
    pipeline.mode_daily_summary(spark, warehouse)
    n2 = sinks.read_table(spark, warehouse, "daily_summary").count()
    assert n1 == 1
    assert n2 == n1


def test_run_scheduled_backoff_and_retry():
    """T4: failed tick sleeps the 60s error backoff (not the full
    interval) then retries; successful ticks sleep the interval
    (reference pipeline.py:575-594, 755-792)."""
    calls = {"n": 0}
    sleeps: list[float] = []

    def tick():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink failure")

    ok = pipeline.run_scheduled(
        tick,
        interval_s=3600.0,
        error_backoff_s=60.0,
        max_runs=3,
        sleep=sleeps.append,
        on_error=lambda exc: None,
    )
    assert calls["n"] == 3
    assert ok == 2  # first tick failed, two retries succeeded
    assert sleeps == [60.0, 3600.0]  # backoff after failure, interval after success


def test_time_travel_reads_batch_prefix(spark, warehouse):
    """read_table_as_of returns exactly the batches published at or
    before the cut — each append is a whole historical version."""
    import time

    sinks.setup_warehouse(spark, warehouse)
    sinks.append_rows(_records_df(spark, GOOD_ROWS[:1]), warehouse, "cleaning_records")
    t_after_first = time.time_ns()
    sinks.append_rows(_records_df(spark, GOOD_ROWS[1:]), warehouse, "cleaning_records")

    assert sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", 0
    ).count() == 0
    assert sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", t_after_first
    ).count() == 1
    assert sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", time.time_ns()
    ).count() == 2
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 2


def test_compaction_preserves_rows_and_collapses_batches(spark, warehouse):
    """A vacuum with an empty retention window folds N batch dirs into
    one with identical content; appends keep working afterwards."""
    sinks.setup_warehouse(spark, warehouse)
    for i in range(4):
        sinks.append_rows(
            _records_df(spark, GOOD_ROWS[i % 2 : i % 2 + 1]),
            warehouse, "cleaning_records",
        )
    before = {
        tuple(r) for r in sinks.read_table(spark, warehouse, "cleaning_records").collect()
    }
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 4

    removed = sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    assert removed == 4
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 1
    after = {
        tuple(r) for r in sinks.read_table(spark, warehouse, "cleaning_records").collect()
    }
    assert after == before

    sinks.append_rows(_records_df(spark, GOOD_ROWS[:1]), warehouse, "cleaning_records")
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 5
    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 2
    # compacting an already-compacted (single-batch) table is a no-op
    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 0
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 5


def test_vacuum_retention_window(spark, warehouse):
    """VERDICT r5 #5: vacuum merges history older than the retention
    point into one base batch — as-of reads inside retention are
    byte-identical pre/post, out-of-retention as-of raises clearly,
    and the directory count is bounded at retain_last_n + 1."""
    import time

    sinks.setup_warehouse(spark, warehouse)
    cuts = []
    for i in range(5):
        sinks.append_rows(
            _records_df(spark, GOOD_ROWS[i % 2 : i % 2 + 1]),
            warehouse, "cleaning_records",
        )
        cuts.append(time.time_ns())

    def as_of_rows(t):
        return sorted(
            map(tuple, sinks.read_table_as_of(
                spark, warehouse, "cleaning_records", t
            ).collect())
        )

    # cuts[2] is the newest ABSORBED publish (retain the last 2 of 5)
    want = {t: as_of_rows(t) for t in cuts[2:]}
    reclaimed = sinks.vacuum_table(
        spark, warehouse, "cleaning_records", retain_last_n=2
    )
    assert reclaimed == 3
    batches = sinks.list_batches(warehouse, "cleaning_records")
    assert len(batches) == 3  # base + 2 retained
    assert batches[0].endswith(sinks.VACUUM_BASE_SUFFIX)

    for t, rows in want.items():  # inside retention: exact
        assert as_of_rows(t) == rows
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 5

    with pytest.raises(ValueError, match="retention"):
        sinks.read_table_as_of(spark, warehouse, "cleaning_records", cuts[1])

    # idempotent: nothing older than retention remains
    assert sinks.vacuum_table(
        spark, warehouse, "cleaning_records", retain_last_n=2
    ) == 0

    # keeps working across further appends: base + older retained
    # batches merge into the next base, count stays bounded
    sinks.append_rows(_records_df(spark, GOOD_ROWS[:1]),
                      warehouse, "cleaning_records")
    assert sinks.vacuum_table(
        spark, warehouse, "cleaning_records", retain_last_n=2
    ) == 2  # old base + one retained batch
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 3
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 6


def test_warehouse_maintenance_vacuums_every_table(spark, warehouse):
    """One pass bounds every provisioned table's directory count at
    retain+1 while current-state reads stay identical."""
    sinks.setup_warehouse(spark, warehouse)
    for i in range(4):
        sinks.append_rows(
            _records_df(spark, GOOD_ROWS[i % 2 : i % 2 + 1]),
            warehouse, "cleaning_records",
        )
    before = sinks.read_table(spark, warehouse, "cleaning_records").count()
    reclaimed = sinks.warehouse_maintenance(spark, warehouse, retain_last_n=1)
    assert reclaimed["cleaning_records"] == 3
    assert all(n == 0 for t, n in reclaimed.items()
               if t != "cleaning_records")
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 2
    assert sinks.read_table(
        spark, warehouse, "cleaning_records"
    ).count() == before
    # second pass: nothing older than retention remains anywhere
    assert all(n == 0 for n in sinks.warehouse_maintenance(
        spark, warehouse, retain_last_n=1
    ).values())


def test_compaction_keeps_asof_exact_at_boundary(spark, warehouse):
    """r6 regression fix: the compacted base is stamped with the last
    ABSORBED publish time, so an as-of between the last append and the
    compaction reads the full state (pre-r6 it silently read empty);
    as-of before the boundary raises (history reclaimed)."""
    import time

    sinks.setup_warehouse(spark, warehouse)
    sinks.append_rows(_records_df(spark, GOOD_ROWS[:1]), warehouse,
                      "cleaning_records")
    t_mid = time.time_ns()
    sinks.append_rows(_records_df(spark, GOOD_ROWS[1:]), warehouse,
                      "cleaning_records")
    t_after_appends = time.time_ns()

    assert sinks.vacuum_table(spark, warehouse, "cleaning_records", 0) == 2
    assert sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", t_after_appends
    ).count() == 2
    assert sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", time.time_ns()
    ).count() == 2
    with pytest.raises(ValueError, match="retention"):
        sinks.read_table_as_of(spark, warehouse, "cleaning_records", t_mid)


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions replaces only the dates present in the
    new batch; untouched dates survive byte-for-byte, and a filtered
    read partition-prunes."""
    from roborock_data_pipeline_spark.sources import sinks

    wh = str(tmp_path / "wh")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0), ("2024-01-03", 3, 30.0)],
        "d string, n int, v double",
    )
    sinks.overwrite_partitions(base, wh, "daily", ["d"])

    fix = spark.createDataFrame(
        [("2024-01-02", 99, 99.0)], "d string, n int, v double"
    )
    sinks.overwrite_partitions(fix, wh, "daily", ["d"])

    got = {
        (str(r.d), r.n, r.v)  # partition col type-infers to DATE on read
        for r in sinks.read_partitioned(spark, wh, "daily").collect()
    }
    assert got == {
        ("2024-01-01", 1, 10.0),
        ("2024-01-02", 99, 99.0),  # replaced, old day-2 row gone
        ("2024-01-03", 3, 30.0),
    }

    from roborock_data_pipeline_spark.plans.inspect import plan_string

    pruned = sinks.read_partitioned(spark, wh, "daily").where(
        "d = '2024-01-03'"
    )
    plan = plan_string(pruned)
    assert "PartitionFilters" in plan and "2024-01-03" in plan


def test_export_jsonl_shards_roundtrip(spark, sf_dir, tmp_path):
    """Deterministic JSONL shard export: stable shard assignment,
    manifest totals match the data, atomic republish swaps cleanly."""
    from roborock_data_pipeline_spark.sources.export import (
        export_jsonl_shards,
        read_export,
        read_manifest,
    )
    from roborock_data_pipeline_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    m1 = export_jsonl_shards(docs, out, key_col="doc_id", n_shards=4,
                             token_col="n_chars")
    assert m1["total_rows"] == docs.count()
    assert set(m1["shards"]) <= {"0", "1", "2", "3"}
    assert read_manifest(out) == m1

    back = read_export(spark, out)
    assert back.count() == m1["total_rows"]
    # every line is a JSON object with the doc fields
    assert {"doc_id", "text", "lang", "source", "n_chars", "shard"} <= set(
        back.columns
    )
    # token totals add up
    assert sum(s["n_tokens"] for s in m1["shards"].values()) == (
        docs.agg({"n_chars": "sum"}).collect()[0][0]
    )

    # capture assignments BEFORE republish (the swap replaces files)
    j1 = {r.doc_id: r.shard for r in back.select("doc_id", "shard").collect()}

    # republish (e.g. after re-curation) atomically replaces the tree
    half = docs.limit(100)
    m2 = export_jsonl_shards(half, out, key_col="doc_id", n_shards=4)
    assert m2["total_rows"] == 100
    assert read_export(spark, out).count() == 100
    j2 = {
        r.doc_id: r.shard
        for r in read_export(spark, out).select("doc_id", "shard").collect()
    }
    assert all(j1[d] == s for d, s in j2.items())
