"""Layout v2 — manifest-committed batch log (VERDICT r10 #1).

The commit point for every batch-log mutation moves from a directory
rename to ONE single-file swap of ``_batches.json`` (the object-store
form: one atomic manifest PUT). These tests pin:

- chaos at every new window (append / snapshot overwrite / vacuum,
  pre- and post-commit crashes): readers always see a committed
  generation, orphans are invisible and GC'd by the next vacuum;
- the core flow (append → read → as-of → vacuum) end to end;
- manifest-lock fencing (a stolen lock's holder cannot publish).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

import pytest
from pyspark.sql import Row

from roborock_data_pipeline_spark.sources import sinks


def _mk(spark, i: int, n: int = 1):
    rows = [
        Row(
            timestamp=dt.datetime(2025, 1, 1, i % 24, j % 60),
            device_name=f"d{(i + j) % 3}",
            start_time=dt.datetime(2025, 1, 1, i % 24, j % 60),
            duration_minutes=float(i),
            area_sqm=float(i * 10 + j),
            clean_mode="auto",
            clean_way="std",
            error_code=None,
            task_status="ok",
        )
        for j in range(n)
    ]
    return spark.createDataFrame(
        rows, schema=sinks.WAREHOUSE_TABLES["cleaning_records"]
    )


@pytest.fixture()
def wh(tmp_path, spark):
    w = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, w)
    return w


def _manifest(wh):
    from roborock_data_pipeline_spark.sources import commit_provider

    p = os.path.join(
        sinks.table_path(wh, "cleaning_records"), sinks.BATCHES_MANIFEST
    )
    return json.loads(commit_provider.read_pointer(p))


def _rows(spark, wh):
    return sinks.read_table(spark, wh, "cleaning_records").count()


# --------------------------------------------------------------- #
# core semantics on the manifest layout                            #
# --------------------------------------------------------------- #


def test_new_table_bootstraps_manifest(spark, wh):
    for i in range(3):
        sinks.append_rows(_mk(spark, i), wh, "cleaning_records")
    m = _manifest(wh)
    # r13: gen 0 is the fresh table's EMPTY bootstrap manifest
    # (committed before the first naming rename — closes the pre-r13
    # first-append degradation window); each append bumps by one
    assert m["generation"] == 3
    assert len(m["live"]) == 3
    assert _rows(spark, wh) == 3
    assert sinks.describe_table(wh, "cleaning_records")["layout"] == (
        "batch-manifest"
    )


def test_orphan_dirs_are_invisible_and_gcd(spark, wh):
    sinks.append_rows(_mk(spark, 1), wh, "cleaning_records")
    td = sinks.table_path(wh, "cleaning_records")
    # fabricate a crashed writer's orphan: a complete batch dir the
    # manifest never named
    live = sinks.list_batches(wh, "cleaning_records")
    orphan = os.path.join(td, "batch-" + "9" * 20 + "-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.txt"), "w") as fh:
        fh.write("x")
    assert sinks.list_batches(wh, "cleaning_records") == live
    assert _rows(spark, wh) == 1
    # another append so vacuum has >1 batch to consider; then the
    # vacuum heal GCs the orphan even when nothing merges
    sinks.append_rows(_mk(spark, 2), wh, "cleaning_records")
    sinks.vacuum_table(spark, wh, "cleaning_records", retain_last_n=10)
    assert not os.path.exists(orphan)
    assert _rows(spark, wh) == 2


def test_concurrent_appends_all_commit(spark, wh):
    dfs = [_mk(spark, i) for i in range(6)]
    errs: list[BaseException] = []

    def app(df):
        try:
            sinks.append_rows(df, wh, "cleaning_records")
        except BaseException as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=app, args=(d,)) for d in dfs]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    m = _manifest(wh)
    assert len(m["live"]) == 6
    assert m["generation"] == 6  # gen 0 = the empty bootstrap (r13)
    assert _rows(spark, wh) == 6


# --------------------------------------------------------------- #
# chaos: crash at every new window                                 #
# --------------------------------------------------------------- #


def _bomb_manifest_commit(monkeypatch):
    """Simulate a hard crash at the commit point: the manifest swap
    never happens (and, as in a real crash, no cleanup code runs for
    the already-renamed data dirs — the finally blocks still fire for
    exception-style faults, which is the stronger postcondition)."""
    def bomb(*a, **k):
        raise OSError("injected crash before manifest commit")

    monkeypatch.setattr(sinks, "_commit_batches", bomb)


def test_append_crash_before_commit_publishes_nothing(
    spark, wh, monkeypatch
):
    sinks.append_rows(_mk(spark, 1), wh, "cleaning_records")
    before = _manifest(wh)
    _bomb_manifest_commit(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        sinks.append_rows(_mk(spark, 2), wh, "cleaning_records")
    monkeypatch.undo()
    assert _manifest(wh) == before
    assert _rows(spark, wh) == 1
    # retry converges; the orphan from the crashed attempt stays
    # invisible and the next vacuum GCs it
    sinks.append_rows(_mk(spark, 2), wh, "cleaning_records")
    assert _rows(spark, wh) == 2
    td = sinks.table_path(wh, "cleaning_records")
    on_disk = [d for d in os.listdir(td) if d.startswith("batch-")]
    assert len(on_disk) == 3  # 2 live + 1 orphan
    sinks.vacuum_table(spark, wh, "cleaning_records", retain_last_n=10)
    on_disk = [d for d in os.listdir(td) if d.startswith("batch-")]
    assert sorted(on_disk) == sinks.list_batches(wh, "cleaning_records")
    assert _rows(spark, wh) == 2


def test_vacuum_crash_before_commit_changes_nothing(
    spark, wh, monkeypatch
):
    for i in range(4):
        sinks.append_rows(_mk(spark, i), wh, "cleaning_records")
    before_live = sinks.list_batches(wh, "cleaning_records")
    _bomb_manifest_commit(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        sinks.vacuum_table(spark, wh, "cleaning_records", retain_last_n=1)
    monkeypatch.undo()
    assert sinks.list_batches(wh, "cleaning_records") == before_live
    assert _rows(spark, wh) == 4
    # retry converges
    assert sinks.vacuum_table(
        spark, wh, "cleaning_records", retain_last_n=1
    ) == 3
    assert _rows(spark, wh) == 4


def test_vacuum_crash_after_commit_reads_stay_exact(
    spark, wh, monkeypatch
):
    """Crash BETWEEN the manifest commit and the absorbed-dir
    deletion: the manifest already names only [base, tail] — reads
    are correct immediately; the stranded absorbed dirs are orphans
    the next vacuum GCs."""
    for i in range(4):
        sinks.append_rows(_mk(spark, i), wh, "cleaning_records")
    real_rmtree = sinks.shutil.rmtree
    state = {"n": 0}

    def bomb(path, *a, **k):
        if "/batch-" in str(path):
            state["n"] += 1
            raise OSError("injected crash before absorbed GC")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(sinks.shutil, "rmtree", bomb)
    with pytest.raises(OSError, match="injected"):
        sinks.vacuum_table(spark, wh, "cleaning_records", retain_last_n=1)
    monkeypatch.undo()
    live = sinks.list_batches(wh, "cleaning_records")
    assert len(live) == 2  # base + retained tail
    assert any(b.endswith(sinks.VACUUM_BASE_SUFFIX) for b in live)
    assert _rows(spark, wh) == 4
    td = sinks.table_path(wh, "cleaning_records")
    assert len(
        [d for d in os.listdir(td) if d.startswith("batch-")]
    ) > 2  # stranded orphans
    sinks.vacuum_table(spark, wh, "cleaning_records", retain_last_n=10)
    assert sorted(
        d for d in os.listdir(td) if d.startswith("batch-")
    ) == sinks.list_batches(wh, "cleaning_records")
    assert _rows(spark, wh) == 4


def test_select_unfolded_keys_on_fold_id():
    """A batch's dirname is its fold id for life: a batch already in
    the folded set is never re-selected, while a different batch
    stamped inside the grace band (a late publish) still is."""
    from roborock_data_pipeline_spark import pipeline

    stamp = f"{10**18:020d}"
    b = f"batch-{stamp}-abcdef01"
    state = {"wm": stamp, "folded": [b]}
    new, implicit = pipeline._select_unfolded([b], state)
    assert new == [] and implicit == []  # not re-folded
    late = f"batch-{10**18 - 1:020d}-12345678"
    new, implicit = pipeline._select_unfolded([late, b], state)
    assert new == [late] and implicit == []
    state = pipeline._advance_fold_state(state, new, implicit)
    assert state["wm"] == stamp and state["folded"] == sorted([b, late])
    assert pipeline._select_unfolded([late, b], state) == ([], [])


@pytest.mark.local_fs_only("manipulates the lock FILE/inode directly; the memory backend has version-id fencing covered in test_commit_provider")
def test_manifest_lock_fence_blocks_stolen_holder(wh):
    td = sinks.table_path(wh, "cleaning_records")
    os.makedirs(td, exist_ok=True)
    with sinks._manifest_lock(td, "cleaning_records") as still_mine:
        assert still_mine()
        lock = os.path.join(td, ".lock-batches")
        os.unlink(lock)  # a TTL stealer renamed ours aside
        with open(lock, "w") as fh:
            fh.write("99999")  # successor's lease
        assert not still_mine()
        with pytest.raises(sinks.FencedWriterError):
            sinks._commit_batches(
                td, "cleaning_records", [], 0, still_mine
            )
    os.unlink(lock)


def test_corrupt_manifest_refuses_listing_fallback(spark, wh):
    """r14 (VERDICT r13 #8): ported off the local_fs_only list — the
    poison lands through the seam's own swap_pointer (a PUT of
    non-JSON bytes, which an operator mishap can produce on ANY
    backend), so the refusal runs on the memory backend too."""
    from roborock_data_pipeline_spark.sources import commit_provider as cp

    sinks.append_rows(_mk(spark, 1), wh, "cleaning_records")
    p = os.path.join(
        sinks.table_path(wh, "cleaning_records"), sinks.BATCHES_MANIFEST
    )
    cp.BACKEND.swap_pointer(p, b"{not json")
    cp.read_pointer(p)  # drain a possible modeled-stale read
    with pytest.raises(ValueError, match="corrupt batch manifest"):
        sinks.list_batches(wh, "cleaning_records")


# --------------------------------------------------------------- #
# core flow end to end                                             #
# --------------------------------------------------------------- #


@pytest.mark.parametrize("layout", ["manifest"])
def test_core_flow_identical_on_both_layouts(spark, tmp_path, layout):
    """append → read → as-of → vacuum on the manifest layout (the
    one supported layout; older ones are refused by name —
    tests/test_layout_contract.py)."""
    w = str(tmp_path / f"wh-{layout}")
    sinks.setup_warehouse(spark, w)
    stamps = []
    for i in range(5):
        sinks.append_rows(_mk(spark, i), w, "cleaning_records")
        stamps.append(
            int(
                sinks._batch_ns_prefix(
                    sinks.list_batches(w, "cleaning_records")[-1]
                )
            )
        )
    assert _rows(spark, w) == 5
    assert (
        sinks.read_table_as_of(
            spark, w, "cleaning_records", stamps[2]
        ).count()
        == 3
    )
    assert sinks.vacuum_table(
        spark, w, "cleaning_records", retain_last_n=2
    ) == 3
    assert _rows(spark, w) == 5
    # as-of inside retention still exact after the vacuum
    assert (
        sinks.read_table_as_of(
            spark, w, "cleaning_records", stamps[-1]
        ).count()
        == 5
    )


_MANIFEST_SIGSTOP_CHILD = r"""
import os, sys, time
sys.path.insert(0, sys.argv[3])
from roborock_data_pipeline_spark.sources import sinks
sinks.MANIFEST_LOCK_TTL_S = 2.0
td, flag_dir = sys.argv[1], sys.argv[2]
res = os.path.join(flag_dir, "result")
try:
    with sinks._manifest_lock(td, "cleaning_records") as still_mine:
        open(os.path.join(flag_dir, "acquired"), "w").write(str(os.getpid()))
        deadline = time.time() + 60
        while not os.path.exists(os.path.join(flag_dir, "go")):
            if time.time() > deadline:
                open(res, "w").write("timeout")
                sys.exit(1)
            time.sleep(0.05)
        # resumed after the freeze: the stolen holder must NOT commit
        try:
            sinks._commit_batches(td, "cleaning_records",
                                  ["batch-zombie"], 99, still_mine)
            open(res, "w").write("published")
        except sinks.FencedWriterError:
            open(res, "w").write("fenced")
except Exception as e:  # noqa: BLE001
    open(res, "w").write("error:" + repr(e))
"""


@pytest.mark.local_fs_only("cross-process SIGSTOP lease test; the in-memory backend is in-process by construction")
def test_manifest_lock_sigstop_holder_cannot_commit(
    spark, wh, monkeypatch, tmp_path
):
    """The manifest lock's TTL takeover under a REAL two-process
    race: a child holds the naming lock and is SIGSTOPped past the
    TTL; the parent steals the lock and commits a generation; the
    resumed child's commit attempt must be fenced (ownership probe)
    and the parent's committed manifest must survive untouched."""
    import signal
    import subprocess
    import sys as _sys
    import time as _time

    sinks.append_rows(_mk(spark, 1), wh, "cleaning_records")
    td = sinks.table_path(wh, "cleaning_records")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.setattr(sinks, "MANIFEST_LOCK_TTL_S", 2.0)
    flag_dir = str(tmp_path / "flags")
    os.makedirs(flag_dir)
    child_src = str(tmp_path / "child.py")
    with open(child_src, "w") as fh:
        fh.write(_MANIFEST_SIGSTOP_CHILD)
    proc = subprocess.Popen(
        [_sys.executable, child_src, td, flag_dir, repo]
    )
    try:
        deadline = _time.time() + 30
        while not os.path.exists(os.path.join(flag_dir, "acquired")):
            assert _time.time() < deadline, "child never acquired"
            _time.sleep(0.05)
        os.kill(proc.pid, signal.SIGSTOP)  # freeze the holder
        _time.sleep(2.5)  # past the (patched) TTL
        # parent steals and commits the next generation
        with sinks._manifest_lock(td, "cleaning_records") as still_mine:
            m = sinks._batches_manifest(td)
            sinks._commit_batches(
                td, "cleaning_records", m["live"],
                m["generation"] + 1, still_mine,
            )
        gen_after_parent = sinks._batches_manifest(td)["generation"]
        os.kill(proc.pid, signal.SIGCONT)  # resume the zombie
        with open(os.path.join(flag_dir, "go"), "w") as fh:
            fh.write("1")
        proc.wait(timeout=30)
        with open(os.path.join(flag_dir, "result")) as fh:
            result = fh.read()
        assert result == "fenced", result
        m = sinks._batches_manifest(td)
        assert m["generation"] == gen_after_parent
        assert "batch-zombie" not in m["live"]
    finally:
        try:
            os.kill(proc.pid, signal.SIGCONT)
        except ProcessLookupError:
            pass
        if proc.poll() is None:
            proc.kill()


def test_snapshot_overwrite_crash_before_commit_keeps_old(
    spark, wh, monkeypatch
):
    """v2 snapshot publish (overwrite_rows): a crash before the
    manifest swap leaves the OLD snapshot fully live — no aside
    window at all — and a retry converges; the crashed attempt's
    batch dir is an invisible orphan."""
    df1 = spark.createDataFrame(
        [("2024-03-01", 1, 12.5, 30, 12.5, 30.0)],
        sinks.WAREHOUSE_TABLES["daily_summary"],
    )
    df2 = spark.createDataFrame(
        [("2024-03-02", 2, 25.0, 60, 12.5, 30.0)],
        sinks.WAREHOUSE_TABLES["daily_summary"],
    )
    sinks.overwrite_rows(df1, wh, "daily_summary")
    assert sinks.describe_table(wh, "daily_summary")["layout"] == (
        "batch-manifest"
    )
    _bomb_manifest_commit(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        sinks.overwrite_rows(df2, wh, "daily_summary")
    monkeypatch.undo()
    got = sinks.read_table(spark, wh, "daily_summary").collect()
    assert len(got) == 1 and got[0]["date"] == "2024-03-01"
    sinks.overwrite_rows(df2, wh, "daily_summary")
    got = sinks.read_table(spark, wh, "daily_summary").collect()
    assert len(got) == 1 and got[0]["date"] == "2024-03-02"
    # exactly one live batch
    assert len(sinks.list_batches(wh, "daily_summary")) == 1


# --------------------------------------------------------------- #
# ADVICE r12: snapshot-vs-vacuum races                             #
# --------------------------------------------------------------- #


def test_vacuum_aborts_when_absorbed_batches_replaced(spark, wh):
    """ADVICE r12 (medium): a vacuum whose listed prefix was replaced
    by a concurrent snapshot commit between its listing and its
    manifest commit must ABORT — committing the merged base would
    resurrect the superseded rows next to the new snapshot. In-tree
    mutators are all leased now; this simulates an out-of-tree writer
    editing the manifest inside that window."""
    for i in range(3):
        sinks.append_rows(_mk(spark, i), wh, "cleaning_records")
    td = sinks.table_path(wh, "cleaning_records")
    old = sinks.list_batches(wh, "cleaning_records")[:2]
    # out-of-tree "snapshot": the manifest now names only the newest
    # batch — the two the vacuum is about to absorb are no longer live
    m = _manifest(wh)
    survivor = [b for b in m["live"] if b not in old]
    from roborock_data_pipeline_spark.sources import commit_provider

    mpath = os.path.join(td, sinks.BATCHES_MANIFEST)
    commit_provider.BACKEND.swap_pointer(
        mpath,
        json.dumps(
            {"generation": m["generation"] + 1, "live": survivor}
        ).encode(),
    )
    # the out-of-tree commit has landed: drain a possible modeled-stale
    # read (the raw swap skips commit_pointer's verified read-back)
    commit_provider.read_pointer(mpath)
    with pytest.raises(sinks.ConcurrentWriterError, match="resurrect"):
        sinks._merge_batches(spark, wh, "cleaning_records", old)
    after = _manifest(wh)
    assert after["live"] == survivor  # commit never happened
    # the staged base was cleaned up, not left as a live-looking dir
    assert not any(
        d.endswith(sinks.VACUUM_BASE_SUFFIX) for d in after["live"]
    )
    assert _rows(spark, wh) == 1  # only the survivor's rows


def test_overwrite_rows_v2_is_leased(spark, wh):
    """ADVICE r12 (medium): overwrite_rows' v2 snapshot path takes the
    writer lease like every other full-table mutator, so it can no
    longer interleave with a vacuum's listing→commit window."""
    df = spark.createDataFrame(
        [("2024-03-01", 1, 12.5, 30, 12.5, 30.0)],
        sinks.WAREHOUSE_TABLES["daily_summary"],
    )
    sinks.overwrite_rows(df, wh, "daily_summary")
    with sinks.writer_lock(wh, "daily_summary"):
        with pytest.raises(sinks.ConcurrentWriterError):
            sinks.overwrite_rows(df, wh, "daily_summary")
    sinks.overwrite_rows(df, wh, "daily_summary")  # lease released


def test_snapshot_stamp_lands_before_data_commit(spark, wh, monkeypatch):
    """The first overwrite of a table no code declares stamps the
    table's schema manifest BEFORE the data commit, so a crash between
    the two leaves a declared, empty table (its reads resolve a schema)
    and a retry converges."""
    df = spark.createDataFrame([("doc-1", 3)], "doc_id string, n int")
    with pytest.raises(KeyError):
        sinks.table_schema(wh, "scratch_gold")
    _bomb_manifest_commit(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        sinks.overwrite_rows(df, wh, "scratch_gold")
    monkeypatch.undo()
    assert sinks.table_schema(wh, "scratch_gold").fieldNames() == [
        "doc_id", "n"
    ]
    assert sinks.read_table(spark, wh, "scratch_gold").collect() == []
    sinks.overwrite_rows(df, wh, "scratch_gold")
    got = sinks.read_table(spark, wh, "scratch_gold").collect()
    assert [(r["doc_id"], r["n"]) for r in got] == [("doc-1", 3)]
