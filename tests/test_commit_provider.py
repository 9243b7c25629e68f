"""The commit-provider seam (VERDICT r11 missing-#3).

Every commit point (pointer swaps, lock/lease/record publishes) goes
through ONE interface; these tests pin the local backend's semantics
and exercise the two object-store failure modes the local FS can
never produce — a LOST (ACKed-but-unapplied) PUT and a STALE
read-after-write — via the FaultInjectingBackend.
"""

from __future__ import annotations

import json
import os

import pytest

from roborock_data_pipeline_spark.sources import commit_provider as cp
from roborock_data_pipeline_spark.sources import sinks


# ------------------------------------------------------------------ #
# local backend semantics                                             #
# ------------------------------------------------------------------ #


def test_swap_and_read_pointer(tmp_path):
    p = str(tmp_path / "ptr.json")
    assert cp.read_pointer(p) is None
    cp.commit_pointer(p, b'{"generation": 0}')
    assert cp.read_pointer(p) == b'{"generation": 0}'
    cp.commit_pointer(p, b'{"generation": 1}')
    assert cp.read_pointer(p) == b'{"generation": 1}'


def test_put_if_absent_single_winner(tmp_path):
    p = str(tmp_path / "lock")
    b = cp.LocalFSBackend()
    t1 = b.put_if_absent(p, b"111")
    assert t1 is not None and b.is_mine(t1)
    assert b.put_if_absent(p, b"222") is None  # loser
    info = b.inspect(p)
    assert info.holder == "111" and info.age_s is not None
    b.release(t1)
    assert b.inspect(p).holder is None  # released
    t2 = b.put_if_absent(p, b"222")
    assert t2 is not None and b.is_mine(t2)
    b.release(t2)


def test_steal_verifies_identity_and_freshness(tmp_path):
    """A steal must only remove the lease it JUDGED: a successor's
    re-acquired lease at the same path is restored and the steal
    loses loudly — even when the local FS REUSES the judged inode for
    the successor's file (the freshness re-check catches what
    identity reuse hides)."""
    import time

    p = str(tmp_path / "lock")
    b = cp.LocalFSBackend()
    t1 = b.put_if_absent(p, b"111")
    judged = b.inspect(p).identity
    # successor takes over in the judge->steal gap (same inode is
    # routinely handed back by the filesystem here)
    b.release(t1)
    t2 = b.put_if_absent(p, b"222")
    with pytest.raises(cp.ConcurrentWriterError, match="re-acquired"):
        b.steal(p, judged, "t", min_age_s=60.0)
    assert b.is_mine(t2)  # successor's lease survived the failed steal
    # a genuinely stale lease (silent past the TTL) with the judged
    # identity IS stolen
    old = time.time() - 120
    os.utime(p, (old, old))
    b.steal(p, b.inspect(p).identity, "t", min_age_s=60.0)
    assert b.inspect(p).holder is None
    t2.close()


def test_ambiguous_put_reads_back_as_ours(tmp_path):
    """The ambiguous-PUT case (publish landed, ack lost): the path
    exists and inspect() shows OUR content — the caller can
    disambiguate instead of double-acquiring or deadlocking
    silently. (writer_lock surfaces this as the loud 're-entrantly'
    refusal.)"""
    p = str(tmp_path / "lock")
    b = cp.LocalFSBackend()
    t = b.put_if_absent(p, b"42")  # the publish that "lost its ack"
    assert b.put_if_absent(p, b"42") is None  # the retry
    assert b.inspect(p).holder == "42"  # ...sees itself as holder
    b.release(t)


# ------------------------------------------------------------------ #
# fault modes the local FS cannot produce                             #
# ------------------------------------------------------------------ #


def test_lost_put_is_detected(tmp_path, monkeypatch):
    p = str(tmp_path / "ptr.json")
    fb = cp.FaultInjectingBackend(lose_swaps_at={1})
    monkeypatch.setattr(cp, "BACKEND", fb)
    cp.commit_pointer(p, b"gen0")  # swap #0: fine
    with pytest.raises(cp.CommitLostError, match="lost"):
        cp.commit_pointer(p, b"gen1")  # swap #1: ACKed, never applied
    assert cp.read_pointer(p) == b"gen0"  # old pointer fully intact
    cp.commit_pointer(p, b"gen1")  # retry converges
    assert cp.read_pointer(p) == b"gen1"


def test_stale_read_after_write_is_absorbed(tmp_path, monkeypatch):
    """Bounded staleness: the read-back sees the pre-swap object a
    couple of times, then the committed one — commit_pointer's retry
    absorbs it with no caller-visible effect."""
    p = str(tmp_path / "ptr.json")
    fb = cp.FaultInjectingBackend(stale_reads_after_swap=2)
    monkeypatch.setattr(cp, "BACKEND", fb)
    cp.commit_pointer(p, b"gen0")
    cp.commit_pointer(p, b"gen1")
    assert cp.read_pointer(p) == b"gen1"


def test_staleness_beyond_window_is_a_lost_commit(tmp_path, monkeypatch):
    p = str(tmp_path / "ptr.json")
    fb = cp.FaultInjectingBackend(
        stale_reads_after_swap=cp._VERIFY_ATTEMPTS + 1
    )
    monkeypatch.setattr(cp, "BACKEND", fb)
    with pytest.raises(cp.CommitLostError):
        cp.commit_pointer(p, b"gen0")


# ------------------------------------------------------------------ #
# the warehouse commit path end-to-end under a lost PUT               #
# ------------------------------------------------------------------ #


@pytest.mark.local_fs_only("drives the FS-based FaultInjectingBackend against an FS warehouse; the memory backend runs the same faults natively (r14: test_memory_backend_lost_put_raises_commit_lost + test_model_against_memory_backend_with_lost_puts)")
def test_append_commit_lost_put_fails_whole_and_retries(
    spark, tmp_path, monkeypatch
):
    """An append whose manifest PUT is lost FAILS WHOLE (the staged
    batch dir is an invisible orphan, the old manifest generation
    stays live, the naming lock is released) and a plain retry
    converges — the exact crash-equivalence contract the chaos suite
    pins for local faults, now for a fault only an object store can
    produce."""
    import datetime as dt

    from pyspark.sql import Row

    wh = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, wh)

    def _mk(i):
        ts = dt.datetime(2025, 1, 1, i)
        return spark.createDataFrame(
            [Row(timestamp=ts, device_name="d0", start_time=ts,
                 duration_minutes=1.0, area_sqm=float(i),
                 clean_mode="auto", clean_way="std", error_code=None,
                 task_status="ok")],
            schema=sinks.WAREHOUSE_TABLES["cleaning_records"],
        )

    sinks.append_rows(_mk(1), wh, "cleaning_records")
    td = sinks.table_path(wh, "cleaning_records")
    with open(os.path.join(td, sinks.BATCHES_MANIFEST)) as fh:
        before = json.load(fh)

    # every subsequent swap is lost until we lift the fault
    fb = cp.FaultInjectingBackend(lose_swaps_at=set(range(100)))
    monkeypatch.setattr(cp, "BACKEND", fb)
    with pytest.raises(cp.CommitLostError):
        sinks.append_rows(_mk(2), wh, "cleaning_records")
    monkeypatch.setattr(cp, "BACKEND", cp.LocalFSBackend())

    with open(os.path.join(td, sinks.BATCHES_MANIFEST)) as fh:
        assert json.load(fh) == before  # generation unchanged
    assert (
        sinks.read_table(spark, wh, "cleaning_records").count() == 1
    )
    sinks.append_rows(_mk(2), wh, "cleaning_records")  # retry converges
    assert (
        sinks.read_table(spark, wh, "cleaning_records").count() == 2
    )
    # the lost attempt's batch dir is an invisible orphan; vacuum heals
    on_disk = [d for d in os.listdir(td) if d.startswith("batch-")]
    with open(os.path.join(td, sinks.BATCHES_MANIFEST)) as fh:
        live = set(json.load(fh)["live"])
    assert len(on_disk) == len(live) + 1
    sinks.vacuum_table(spark, wh, "cleaning_records", 99)
    on_disk = [d for d in os.listdir(td) if d.startswith("batch-")]
    assert set(on_disk) == live


# ------------------------------------------------------------------ #
# ADVICE r12 (medium): staging temps can never read as records        #
# ------------------------------------------------------------------ #


@pytest.mark.local_fs_only("pins the LocalFS put_if_absent staging-temp naming; the memory backend stages nothing on disk")
def test_crashed_put_temp_never_matches_record_listing(tmp_path):
    """A put_if_absent staging temp is dot-prefixed: a writer killed
    between the temp write and the link leaves NOTHING a prefix-based
    scan of the directory (e.g. a ``commit-*.json`` listing) could
    mistake for a committed record — the pre-r13 naming
    (`{path}.acq-<hex>`) matched `startswith('commit-')`."""
    tdir = str(tmp_path / "records")
    os.makedirs(tdir)
    record = os.path.join(tdir, "commit-b1.json")

    # simulate the kill: stage exactly as the provider does, no link
    orig_link = os.link
    staged_names = []

    def no_link(src, dst):
        staged_names.append(os.path.basename(src))
        raise OSError(9999, "injected kill before link")

    try:
        os.link = no_link
        with pytest.raises(OSError, match="injected"):
            cp.BACKEND.put_if_absent(record, b"{}")
    finally:
        os.link = orig_link
    assert staged_names and all(
        n.startswith(".") for n in staged_names
    ), staged_names
    assert not any(n.startswith("commit-") for n in staged_names)
    # the temp was unlinked even on the non-EEXIST failure (ADVICE
    # r12: the old code leaked it)
    assert os.listdir(tdir) == []


# ------------------------------------------------------------------ #
# the in-memory object-store backend (VERDICT r12 #4)                 #
# ------------------------------------------------------------------ #


def test_memory_backend_full_lease_protocol():
    b = cp.InMemoryObjectStoreBackend()
    t = b.put_if_absent("/l/x", b"w1")
    assert t is not None and b.is_mine(t)
    assert b.put_if_absent("/l/x", b"w2") is None  # conditional insert
    info = b.inspect("/l/x")
    assert info.holder == "w1" and info.identity == t.ident
    assert b.heartbeat(t)
    # steal refuses a fresh lease (freshness bar)
    with pytest.raises(cp.ConcurrentWriterError):
        b.steal("/l/x", info.identity, "t", min_age_s=60.0)
    # steal refuses a stale-identity judgment
    with pytest.raises(cp.ConcurrentWriterError):
        b.steal("/l/x", (info.identity or 0) + 99, "t")
    # a correct judgment (no freshness bar) takes the lease
    b.steal("/l/x", info.identity, "t")
    assert b.inspect("/l/x").holder is None
    assert not b.is_mine(t)
    # release of a lost lease is a no-op, not an error
    b.release(t)


def test_memory_backend_staleness_absorbed_by_commit_pointer(monkeypatch):
    b = cp.InMemoryObjectStoreBackend(stale_reads=2)
    monkeypatch.setattr(cp, "BACKEND", b)
    monkeypatch.setattr(cp, "_VERIFY_WAIT_S", 0.001)
    cp.commit_pointer("/p/x", b"v1")  # retry absorbs the stale window
    assert cp.read_pointer("/p/x") in (None, b"v1")  # may still be stale
    assert b.read_pointer("/p/x") == b"v1"  # drained
    cp.commit_pointer("/p/x", b"v2")
    b.read_pointer("/p/x")  # drain
    assert b.read_pointer("/p/x") == b"v2"


def test_memory_backend_lost_put_raises_commit_lost(monkeypatch):
    """VERDICT r13 #5: the ACKed-lost-PUT fault on the RENAME-FREE
    backend — commit_pointer's verified read-back must surface
    CommitLostError where os.replace does not exist at all."""
    b = cp.InMemoryObjectStoreBackend()
    monkeypatch.setattr(cp, "BACKEND", b)
    monkeypatch.setattr(cp, "_VERIFY_WAIT_S", 0.001)
    cp.commit_pointer("/p/x", b"v1")
    b.lose_next_swaps({0})  # the NEXT swap is ACKed, never applied
    with pytest.raises(cp.CommitLostError, match="lost"):
        cp.commit_pointer("/p/x", b"v2")
    assert b.lost == ["/p/x"]
    # the store still serves the last committed state, and recovers
    assert b.read_pointer("/p/x") == b"v1"
    b.clear_faults()
    cp.commit_pointer("/p/x", b"v2")
    assert b.read_pointer("/p/x") == b"v2"


@pytest.mark.local_fs_only(
    "steal asides are a local-FS rename artifact; the memory "
    "backend's steal is one conditional delete (sweep is a no-op)"
)
def test_naming_lock_sweeps_ttl_aged_steal_litter(tmp_path):
    """VERDICT r13 #4: `.stale-*` asides stranded by a steal that
    LOST its restore race are GC'd by the next naming-lock
    acquisition — judged by ctime age vs the lock's TTL (the rename
    preserves the stale holder's old mtime, so mtime can't tell an
    in-flight aside from litter)."""
    import time as _time

    lock = str(tmp_path / ".lock-x")
    litter = lock + ".stale-deadbeef"
    with open(litter, "w") as fh:
        fh.write("999 zombie")
    _time.sleep(0.25)
    young = lock + ".stale-cafef00d"
    with open(young, "w") as fh:
        fh.write("1000 in-flight")
    with cp.naming_lock(lock, "t", 0.1):
        pass
    assert not os.path.exists(litter)  # ctime-aged past the TTL
    assert os.path.exists(young)  # younger than the TTL: untouched


@pytest.mark.local_fs_only(
    "steal asides are a local-FS rename artifact"
)
def test_steal_litter_no_unbounded_accumulation(tmp_path):
    """Stress the sweep: repeated lost-restore-race litter never
    accumulates past one acquisition cycle."""
    import time as _time

    lock = str(tmp_path / ".lock-y")
    for i in range(10):
        with open(f"{lock}.stale-{i:08x}", "w") as fh:
            fh.write(f"{i} zombie")
    _time.sleep(0.25)
    with cp.naming_lock(lock, "t", 0.1):
        pass
    import glob as g

    assert g.glob(lock + ".stale-*") == []
