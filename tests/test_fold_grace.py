"""Grace-band fold selection (pipeline.FOLD_GRACE_NS) — the
structural closure of the stamp->rename publish race (ADVICE r7).

The hazard: _publish_stamp_ns is taken immediately before the publish
rename (sinks.append_rows), but a writer preempted between the two
calls can publish a batch whose stamp is BELOW a watermark that
another writer + refresh advanced in that gap. A strict
newer-than-watermark selection would then skip the batch forever
(silent undercount). The fix pinned here: both incremental refreshes
re-list a FOLD_GRACE_NS band below their watermark and deduplicate by
batch id, so a late publish is folded EXACTLY ONCE — at-least-once
for the recompute-from-base refresh (idempotent anyway) and
exactly-once for the delta-merge refresh (replay = double count).

The race is simulated deterministically: append a batch normally,
then rename its directory to a stamp just below the current watermark
— byte-identical to what a preempted writer would have published.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from roborock_data_pipeline_spark import pipeline, schemas
from roborock_data_pipeline_spark.sources import sinks


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, device, area, minutes):
    ts = dt.datetime(2024, 3, day, 9)
    return (
        ts, device, ts, float(minutes), float(area),
        "standard", "vacuum", 0, "ok",
    )


def _append(spark, warehouse, rows):
    df = spark.createDataFrame(rows, schemas.CLEANING_RECORDS)
    sinks.append_rows(df, warehouse, "cleaning_records")


def _backdate_last_batch(warehouse, below_ns: str) -> str:
    """Rename the newest cleaning_records batch to a stamp one tick
    below ``below_ns`` — the on-disk state a writer preempted in the
    stamp->rename gap would have published."""
    table_dir = sinks.table_path(warehouse, "cleaning_records")
    newest = sorted(
        d for d in os.listdir(table_dir) if d.startswith("batch-")
    )[-1]
    suffix = newest[len("batch-") + 20:]
    late = f"batch-{int(below_ns) - 1:020d}{suffix}"
    os.rename(
        os.path.join(table_dir, newest), os.path.join(table_dir, late)
    )
    # layout v2: the simulated late writer would have COMMITTED the
    # late id through the manifest — mirror the rename there
    mpath = os.path.join(table_dir, sinks.BATCHES_MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as fh:
            m = json.load(fh)
        m["live"] = sorted(
            late if b == newest else b for b in m["live"]
        )
        with open(mpath, "w") as fh:
            json.dump(m, fh)
    return late


# --- unit: selection / state algebra -------------------------------


def test_select_unfolded_grace_band_dedup():
    wm = 10**18
    st = {
        "wm": f"{wm:020d}",
        "folded": [f"batch-{wm:020d}-ffff"],
    }
    in_band_new = f"batch-{wm - 5:020d}-aaaa"
    below_band = f"batch-{wm - pipeline.FOLD_GRACE_NS - 1:020d}-bbbb"
    newer = f"batch-{wm + 5:020d}-cccc"
    picked, implicit = pipeline._select_unfolded(
        [below_band, in_band_new, st["folded"][0], newer], st
    )
    assert picked == [in_band_new, newer] and implicit == []


def test_in_band_vacuum_base_proven_folded_is_skipped(tmp_path):
    """A base absorbing only folded/below-floor batches holds no
    unfolded rows: skipped and returned as implicitly folded. A base
    absorbing an unknown in-band id is conservatively selected."""
    wm = 10**18
    folded_id = f"batch-{wm:020d}-ffff"
    below = f"batch-{wm - pipeline.FOLD_GRACE_NS - 1:020d}-oldd"
    unknown = f"batch-{wm - 3:020d}-unkn"
    st = {"wm": f"{wm:020d}", "folded": [folded_id]}

    def _mk_base(name, absorbed):
        d = tmp_path / name
        d.mkdir()
        (d / sinks.ABSORBED_MANIFEST).write_text(
            json.dumps({"absorbed": absorbed})
        )
        return name

    good = _mk_base(f"batch-{wm:020d}-gggg-vb", [folded_id, below])
    bad = _mk_base(f"batch-{wm:020d}-hhhh-vb", [folded_id, unknown])
    new, implicit = pipeline._select_unfolded(
        [good, bad], st, str(tmp_path)
    )
    assert new == [bad] and implicit == [good]
    # implicit folds are recorded without moving the watermark
    nxt = pipeline._advance_fold_state(st, [], implicit)
    assert good in nxt["folded"] and nxt["wm"] == st["wm"]


def test_advance_fold_state_never_regresses_and_prunes():
    wm = 10**18
    st = {"wm": f"{wm:020d}", "folded": []}
    late = f"batch-{wm - 7:020d}-aaaa"
    nxt = pipeline._advance_fold_state(st, [late])
    # a late fold must not pull the watermark back
    assert nxt["wm"] == st["wm"]
    assert late in nxt["folded"]
    # ids falling below the grace floor are pruned (bounded state)
    old = f"batch-{wm - pipeline.FOLD_GRACE_NS - 10:020d}-oooo"
    nxt2 = pipeline._advance_fold_state(
        {"wm": st["wm"], "folded": [old, late]}, []
    )
    assert old not in nxt2["folded"] and late in nxt2["folded"]


# --- integration: the simulated race, both refreshes ----------------


def test_daily_refresh_folds_late_publish_exactly_once(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a", 10.0, 20)])
    pipeline.refresh_daily_summary(spark, warehouse)
    wm = pipeline._read_gold(warehouse, pipeline.DAILY_TABLE)[1]["wm"]

    _append(spark, warehouse, [_rec(2, "robo-a", 30.0, 40)])
    late = _backdate_last_batch(warehouse, wm)
    assert sinks._batch_ns_prefix(late) < wm  # noqa: SLF001

    r = pipeline.refresh_daily_summary(spark, warehouse)
    assert r["new_batches"] == 1 and r["dates_refreshed"] == 1
    gold = pipeline.read_daily_summary(spark, warehouse)
    assert gold.where(F.col("date") == "2024-03-02").count() == 1
    # exactly once: the late batch is now in the folded set, a re-run
    # is a no-op, and the watermark did not regress
    st = pipeline._read_gold(warehouse, pipeline.DAILY_TABLE)[1]
    assert late in st["folded"] and st["wm"] == wm
    assert pipeline.refresh_daily_summary(spark, warehouse) == {
        "new_batches": 0,
        "dates_refreshed": 0,
    }


def test_lifetime_refresh_folds_late_publish_without_double_count(
    spark, warehouse
):
    _append(spark, warehouse, [_rec(1, "robo-a", 10.0, 20)])
    pipeline.refresh_device_lifetime(spark, warehouse)
    # r13: the watermark lives INSIDE the pointer-resolved live
    # snapshot version dir (data + watermark commit in one swap)
    wm = pipeline._read_gold(warehouse, pipeline.LIFETIME_TABLE)[1]["wm"]

    _append(spark, warehouse, [_rec(2, "robo-a", 30.0, 40)])
    _backdate_last_batch(warehouse, wm)

    assert pipeline.refresh_device_lifetime(spark, warehouse)["mode"] == "delta"
    # replay protection: a third refresh must be a noop, not a refold
    assert pipeline.refresh_device_lifetime(spark, warehouse)["mode"] == "noop"
    row = pipeline.read_device_lifetime(spark, warehouse).collect()[0]
    assert row["total_clean_count"] == 2
    assert row["total_clean_area"] == 40.0
    assert row["total_clean_time"] == 60


# --- property: exactly-once under arbitrary in-contract schedules ---

from hypothesis import given, settings, strategies as st  # noqa: E402

BASE_NS = 10**18


@st.composite
def _schedules(draw):
    """A publish/refresh interleaving. Each publish carries a lag
    (how far below the max stamp seen so far it lands — the
    stamp->rename preemption), drawn within FOLD_GRACE_NS: the
    contract the grace band promises to absorb."""
    n = draw(st.integers(2, 30))
    events = []
    for i in range(n):
        if draw(st.booleans()):
            lag = draw(
                st.integers(0, pipeline.FOLD_GRACE_NS - 1)
                if draw(st.booleans()) else st.just(0)
            )
            events.append(("publish", lag))
        else:
            events.append(("refresh", None))
    events.append(("refresh", None))  # quiescence: drain the tail
    return events


@given(_schedules())
@settings(max_examples=300, deadline=None)
def test_every_in_contract_publish_folds_exactly_once(events):
    """Model-based: replay an arbitrary interleaving of publishes
    (each possibly stamped up to FOLD_GRACE_NS below the newest stamp
    already visible — the preempted-writer case) and refreshes
    against the fold-state algebra. Every batch must be selected
    EXACTLY once across all refreshes, and the watermark must never
    regress."""
    state = pipeline._read_fold_state(None)
    live: list[str] = []
    fold_counts: dict[str, int] = {}
    hi = BASE_NS
    prev_wm = ""
    for i, (kind, lag) in enumerate(events):
        if kind == "publish":
            hi += 1  # the stamp the writer WOULD have published at
            b = f"batch-{hi - (lag or 0):020d}-{i:08x}"
            live.append(b)
            fold_counts[b] = 0
        else:
            new, implicit = pipeline._select_unfolded(sorted(live), state)
            for b in new:
                fold_counts[b] += 1
            state = pipeline._advance_fold_state(state, new, implicit)
            assert state["wm"] >= prev_wm, "watermark regressed"
            prev_wm = state["wm"]
    assert all(c == 1 for c in fold_counts.values()), fold_counts


def test_noop_refresh_records_proven_folded_base(spark, warehouse):
    """Vacuum after a fold puts a base in the grace band holding only
    folded content: the next refresh must prove it folded via the
    absorbed manifest (no refold — daily stays a noop, lifetime stays
    delta-property-clean) AND record it, so later runs skip even the
    manifest read and, once the base is itself absorbed, no
    conservative refold cascades."""
    _append(spark, warehouse, [_rec(1, "robo-a", 10.0, 20)])
    _append(spark, warehouse, [_rec(2, "robo-a", 30.0, 40)])
    pipeline.refresh_daily_summary(spark, warehouse)
    pipeline.refresh_device_lifetime(spark, warehouse)
    sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    base = [
        b for b in sinks.list_batches(warehouse, "cleaning_records")
        if b.endswith(sinks.VACUUM_BASE_SUFFIX)
    ][0]

    assert pipeline.refresh_daily_summary(spark, warehouse) == {
        "new_batches": 0,
        "dates_refreshed": 0,
    }
    assert base in pipeline._read_gold(warehouse, pipeline.DAILY_TABLE)[1]["folded"]

    assert pipeline.refresh_device_lifetime(spark, warehouse)["mode"] == "noop"
    # r13: the watermark lives INSIDE the pointer-resolved live
    # snapshot version dir (data + watermark commit in one swap)
    life = pipeline._read_gold(warehouse, pipeline.LIFETIME_TABLE)[1]
    assert base in life["folded"]
    row = pipeline.read_device_lifetime(spark, warehouse).collect()[0]
    assert row["total_clean_count"] == 2


def test_warehouse_health_surfaces_fold_and_lock_signals(spark, warehouse):
    """VERDICT r8 #7: the fencing signals a 100 TB operator polls —
    fold watermark age, grace-band population, lock holder/age/
    staleness — come out of one no-Spark-job snapshot."""
    # before any refresh: no watermark, no lock
    h0 = pipeline.warehouse_health(warehouse)
    g0 = h0[pipeline.DAILY_TABLE]
    assert g0["fold_watermark_age_s"] is None
    assert g0["fold_grace_band_folded"] == 0
    assert h0["cleaning_records"]["lock_holder_pid"] is None
    assert h0["cleaning_records"]["lock_stale"] is False

    _append(spark, warehouse, [_rec(1, "robo-a", 10, 30)])
    pipeline.refresh_daily_summary(spark, warehouse)
    pipeline.refresh_device_lifetime(spark, warehouse)
    h1 = pipeline.warehouse_health(warehouse)
    for table in (pipeline.DAILY_TABLE, pipeline.LIFETIME_TABLE):
        f = h1[table]
        # fresh fold: the watermark is seconds old and the folded
        # batch sits in the grace band
        assert 0 <= f["fold_watermark_age_s"] < 600, table
        assert f["fold_grace_band_folded"] >= 1, table

    # a held lease surfaces through the same snapshot
    with sinks.writer_lock(warehouse, "cleaning_records"):
        h2 = pipeline.warehouse_health(warehouse)
        assert h2["cleaning_records"]["lock_holder_pid"] == os.getpid()
        assert h2["cleaning_records"]["lock_stale"] is False


def test_publish_freeze_fence_restamps_stale_ids(spark, warehouse, monkeypatch):
    """VERDICT r8 wrong-#3: a writer frozen between stamping and the
    publish rename for longer than half the fold grace must RE-STAMP
    before publishing — a stale id could land below an advanced
    watermark's grace floor and never fold. Simulated by a stamp
    source whose first answer is 200 s in the past."""
    import time as _time

    real = sinks._publish_stamp_ns
    state = {"stale_served": False}

    def frozen_once():
        if not state["stale_served"]:
            state["stale_served"] = True
            return _time.time_ns() - 200 * 10**9
        return real()

    monkeypatch.setattr(sinks, "_publish_stamp_ns", frozen_once)
    _append(spark, warehouse, [_rec(1, "robo-a", 10, 30)])
    assert state["stale_served"]  # the stale stamp was offered...
    (batch,) = sinks.list_batches(warehouse, "cleaning_records")
    age_ns = _time.time_ns() - int(batch.split("-")[1])
    # ...and rejected: the published id is fresh, well inside the band
    assert 0 <= age_ns < sinks.FOLD_GRACE_NS // 2
    # the batch folds normally
    out = pipeline.refresh_daily_summary(spark, warehouse)
    assert out["new_batches"] == 1


def test_health_cli_mode_prints_snapshot(spark, warehouse, capsys):
    """--mode health: the warehouse_health snapshot is a CLI surface
    (operator dashboard tick, no Spark job)."""
    import argparse

    pipeline.run_mode(
        spark,
        argparse.Namespace(
            mode="health", warehouse=warehouse, cloud=None,
            checkpoint=None, limit=10,
        ),
    )
    out = json.loads(capsys.readouterr().out)
    assert "cleaning_records" in out
    assert out["cleaning_records"]["lock_stale"] is False
    assert "fold_watermark_age_s" in out[pipeline.DAILY_TABLE]
