"""Versioned-directory publish (sources/versioned_dir) — the r13 seam
closure for the three surfaces VERDICT r12 #1 named (IVF-PQ rebuild,
semantic centroids, JSONL export) plus the lifetime gold snapshot.

What these tests pin:
- the COMMIT is one `_current.json` pointer swap; a crash at the
  former two-rename kill window (staged named, pointer not swapped)
  leaves the OLD version fully serving — the pre-r13 code left NO
  directory visible there;
- retries converge over the invisible orphan;
- a lost ACKed PUT (FaultInjectingBackend) fails the publish whole;
- a pointer-less root holding data (the pre-pointer layout) is
  refused by name (tests/test_layout_contract.py).
"""

from __future__ import annotations

import json
import os

import pytest

from roborock_data_pipeline_spark.sources import (
    commit_provider as cp,
    versioned_dir as vd,
)


def _write_marker(staged: str, tag: str) -> None:
    with open(os.path.join(staged, "data.txt"), "w") as fh:
        fh.write(tag)


def _read_live(root: str) -> str:
    live = vd.resolve(root)
    assert live is not None
    with open(os.path.join(live, "data.txt")) as fh:
        return fh.read()


def test_publish_resolve_roundtrip_and_grace(tmp_path):
    root = str(tmp_path / "surface")
    s1 = vd.staging_dir(root)
    _write_marker(s1, "v1")
    live1 = vd.publish(root, s1)
    assert live1.endswith("v-000001")
    assert _read_live(root) == "v1"
    assert vd.generation(root) == 1

    s2 = vd.staging_dir(root)
    _write_marker(s2, "v2")
    vd.publish(root, s2)
    assert _read_live(root) == "v2"
    # one publish of grace: v1 still on disk for in-flight readers
    assert os.path.isdir(live1)

    s3 = vd.staging_dir(root)
    _write_marker(s3, "v3")
    vd.publish(root, s3)
    assert _read_live(root) == "v3"
    assert not os.path.isdir(live1)  # grace elapsed, GC'd
    assert os.path.isdir(os.path.join(root, "v-000002"))


def test_crash_before_pointer_keeps_old_serving(tmp_path, monkeypatch):
    """The exact window the pre-r13 two-rename swap turned into 'no
    directory visible': staged content has been NAMED v-000002 but the
    pointer swap dies. Old version must keep serving; the orphan is
    invisible; the retry converges by clobbering it."""
    root = str(tmp_path / "surface")
    s1 = vd.staging_dir(root)
    _write_marker(s1, "v1")
    vd.publish(root, s1)

    real = cp.BACKEND.swap_pointer
    state = {"fired": False}

    def bomb(path, data):
        if path.endswith(vd.CURRENT_POINTER) and not state["fired"]:
            state["fired"] = True
            raise OSError("injected pointer crash")
        return real(path, data)

    monkeypatch.setattr(cp.BACKEND, "swap_pointer", bomb)
    s2 = vd.staging_dir(root)
    _write_marker(s2, "v2-crashed")
    with pytest.raises(OSError, match="injected"):
        vd.publish(root, s2)
    monkeypatch.undo()
    assert state["fired"]
    assert os.path.isdir(os.path.join(root, "v-000002"))  # named orphan
    assert _read_live(root) == "v1"  # ...but old still serves

    s3 = vd.staging_dir(root)
    _write_marker(s3, "v2-retry")
    vd.publish(root, s3)  # clobbers the orphan, commits gen 2
    assert _read_live(root) == "v2-retry"
    assert vd.generation(root) == 2


@pytest.mark.local_fs_only("drives the FS-based FaultInjectingBackend; the memory backend runs lost PUTs natively (r14: test_gold_snapshot_lost_put_on_memory_backend)")
def test_lost_acked_put_fails_publish_whole(tmp_path, monkeypatch):
    """Object-store mode: the pointer PUT is ACKed but never becomes
    readable — commit_pointer's verified read-back must fail the
    publish (CommitLostError) with the old version still live."""
    root = str(tmp_path / "surface")
    s1 = vd.staging_dir(root)
    _write_marker(s1, "v1")
    vd.publish(root, s1)
    fb = cp.FaultInjectingBackend(lose_swaps_at={0})
    monkeypatch.setattr(cp, "BACKEND", fb)
    monkeypatch.setattr(cp, "_VERIFY_WAIT_S", 0.001)
    s2 = vd.staging_dir(root)
    _write_marker(s2, "v2")
    with pytest.raises(cp.CommitLostError):
        vd.publish(root, s2)
    monkeypatch.setattr(cp, "BACKEND", cp.LocalFSBackend())
    assert _read_live(root) == "v1"
    # retry on a healthy backend converges
    s3 = vd.staging_dir(root)
    _write_marker(s3, "v2")
    vd.publish(root, s3)
    assert _read_live(root) == "v2"


def test_corrupt_pointer_raises_loudly(tmp_path):
    """r14 (VERDICT r13 #8): ported off the local_fs_only list — the
    poison lands through the seam's own swap_pointer, so the refusal
    runs on the memory backend too."""
    root = str(tmp_path / "surface")
    s1 = vd.staging_dir(root)
    _write_marker(s1, "v1")
    vd.publish(root, s1)
    p = os.path.join(root, vd.CURRENT_POINTER)
    cp.BACKEND.swap_pointer(p, b"{not json")
    cp.read_pointer(p)  # drain a possible modeled-stale read
    with pytest.raises(ValueError, match="corrupt version pointer"):
        vd.resolve(root)


def test_pointer_naming_missing_dir_raises(tmp_path):
    root = str(tmp_path / "surface")
    s1 = vd.staging_dir(root)
    _write_marker(s1, "v1")
    live = vd.publish(root, s1)
    import shutil

    shutil.rmtree(live)
    with pytest.raises(ValueError, match="missing"):
        vd.resolve(root)


def test_fresh_or_empty_root_resolves_none(tmp_path):
    assert vd.resolve(str(tmp_path / "nope")) is None
    root = str(tmp_path / "empty")
    os.makedirs(root)
    assert vd.resolve(root) is None
    # staging leftovers alone are NOT data (crashed create detection)
    vd.staging_dir(root)
    assert vd.resolve(root) is None


# ------------------------------------------------------------------ #
# the three migrated surfaces end-to-end                              #
# ------------------------------------------------------------------ #


def test_export_crash_before_pointer_keeps_old(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """export_jsonl_shards through the seam: a publish crash at the
    former kill window leaves the previous export fully readable
    (manifest + shards consistent), and the retry converges."""
    from roborock_data_pipeline_spark.sources.export import (
        export_jsonl_shards,
        read_export,
        read_manifest,
    )
    from roborock_data_pipeline_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    m1 = export_jsonl_shards(docs, out, key_col="doc_id", n_shards=4)

    real = cp.BACKEND.swap_pointer
    state = {"fired": False}

    def bomb(path, data):
        if path == os.path.join(out, vd.CURRENT_POINTER) and not state["fired"]:
            state["fired"] = True
            raise OSError("injected export crash")
        return real(path, data)

    monkeypatch.setattr(cp.BACKEND, "swap_pointer", bomb)
    with pytest.raises(OSError, match="injected"):
        export_jsonl_shards(docs.limit(10), out, key_col="doc_id",
                            n_shards=4)
    monkeypatch.undo()
    assert state["fired"]
    # old export fully serving — manifest AND shard data
    assert read_manifest(out) == m1
    assert read_export(spark, out).count() == m1["total_rows"]
    # retry converges
    m2 = export_jsonl_shards(docs.limit(10), out, key_col="doc_id",
                             n_shards=4)
    assert m2["total_rows"] == 10
    assert read_export(spark, out).count() == 10


def test_versioned_pointer_is_sole_commit(tmp_path):
    """The pointer file is tiny JSON naming exactly {generation, dir}
    — the single object an object-store port must PUT atomically."""
    root = str(tmp_path / "surface")
    s1 = vd.staging_dir(root)
    _write_marker(s1, "v1")
    vd.publish(root, s1)
    m = json.loads(cp.read_pointer(os.path.join(root, vd.CURRENT_POINTER)))
    assert set(m) == {"generation", "dir"}
    assert m == {"generation": 1, "dir": "v-000001"}


def test_staging_heartbeat_liveness(tmp_path):
    """VERDICT r13 #2: staging liveness is the writer's HEARTBEAT,
    not wall-clock since its last write. A slow-but-alive writer —
    staging mtime aged far past the old bar, heartbeat fresh —
    survives a concurrent publish; once the heartbeat goes silent
    past the TTL the staging is swept."""
    import time as _time

    root = str(tmp_path / "surface")
    slow = vd.staging_dir(root)
    _write_marker(slow, "slow")
    old = _time.time() - 2 * vd._STALE_STAGING_S
    os.utime(slow, (old, old))  # hours since the last data file
    vd._touch_heartbeat(slow)  # the live writer's thread keeps beating

    s = vd.staging_dir(root)
    _write_marker(s, "v1")
    vd.publish(root, s)
    assert os.path.isdir(slow), "live slow writer's staging was swept"

    # the writer dies: heartbeat silent past the TTL -> swept
    dead = _time.time() - 2 * vd._STAGING_TTL_S
    os.utime(os.path.join(slow, vd._HEARTBEAT_FILE), (dead, dead))
    s2 = vd.staging_dir(root)
    _write_marker(s2, "v2")
    vd.publish(root, s2)
    assert not os.path.isdir(slow)


def test_heartbeatless_staging_uses_conservative_mtime_bar(tmp_path):
    """A pre-r14 orphan (no heartbeat file) keeps the old dir-mtime
    bar: young -> kept, aged past _STALE_STAGING_S -> swept."""
    import time as _time

    root = str(tmp_path / "surface")
    orphan = vd.staging_dir(root)
    os.unlink(os.path.join(orphan, vd._HEARTBEAT_FILE))
    s = vd.staging_dir(root)
    _write_marker(s, "v1")
    vd.publish(root, s)
    assert os.path.isdir(orphan)  # young: not swept

    old = _time.time() - 2 * vd._STALE_STAGING_S
    os.utime(orphan, (old, old))
    s2 = vd.staging_dir(root)
    _write_marker(s2, "v2")
    vd.publish(root, s2)
    assert not os.path.isdir(orphan)


def test_heartbeat_thread_refreshes_and_exits(tmp_path, monkeypatch):
    import shutil
    import time as _time

    monkeypatch.setattr(vd, "_STAGING_HEARTBEAT_S", 0.05)
    root = str(tmp_path / "surface")
    s = vd.staging_dir(root)
    hb = os.path.join(s, vd._HEARTBEAT_FILE)
    t0 = os.stat(hb).st_mtime
    deadline = _time.time() + 5
    while os.stat(hb).st_mtime == t0 and _time.time() < deadline:
        _time.sleep(0.05)
    assert os.stat(hb).st_mtime > t0, "heartbeat thread never beat"
    # thread exits on its own once the dir leaves the namespace
    shutil.rmtree(s)
    _time.sleep(0.2)
    assert not os.path.exists(s)


def test_published_version_carries_no_heartbeat(tmp_path):
    root = str(tmp_path / "surface")
    s = vd.staging_dir(root)
    _write_marker(s, "v1")
    live = vd.publish(root, s)
    assert not os.path.exists(os.path.join(live, vd._HEARTBEAT_FILE))
    assert _read_live(root) == "v1"


def test_resolve_retries_pointer_on_missing_dir(tmp_path, monkeypatch):
    """VERDICT r13 #3: between a reader's pointer read and its isdir
    probe, two back-to-back publishes can trash-rename the version
    the stale pointer named. resolve() must re-read the pointer once
    and succeed; the raise is reserved for genuine out-of-band
    deletion (pinned by test_pointer_naming_missing_dir_raises)."""
    root = str(tmp_path / "surface")
    for tag in ("v1", "v2", "v3"):
        s = vd.staging_dir(root)
        _write_marker(s, tag)
        vd.publish(root, s)
    # v-000001 is GC'd by now; serve a STALE pointer naming it on the
    # first read, the real (current) pointer on the second
    ptr = os.path.join(root, vd.CURRENT_POINTER)
    real = cp.read_pointer(ptr)
    stale = json.dumps({"generation": 1, "dir": "v-000001"}).encode()
    seq = [stale]
    orig = cp.read_pointer

    def fake(path):
        if path == ptr and seq:
            return seq.pop(0)
        return orig(path)

    monkeypatch.setattr(cp, "read_pointer", fake)
    live = vd.resolve(root)
    assert live is not None and live.endswith("v-000003")
    assert real == orig(ptr)  # the committed pointer was never touched


def test_describe_versioned_dir_surface(tmp_path):
    """VERDICT r13 #6: metadata-only describe for `_current.json`
    surfaces — generation, grace/staging/trash backlog, live age.
    Zero Spark jobs (pure listings)."""
    import time as _time

    assert vd.describe_versioned_dir(str(tmp_path / "absent")) is None

    # pre-pointer root: data files, no pointer — refused, not described
    old = str(tmp_path / "old")
    os.makedirs(old)
    with open(os.path.join(old, "data.txt"), "w") as fh:
        fh.write("old")
    with pytest.raises(ValueError, match="unsupported"):
        vd.describe_versioned_dir(old)

    # versioned surface with one superseded version in grace
    root = str(tmp_path / "surface")
    for tag in ("v1", "v2"):
        s = vd.staging_dir(root)
        _write_marker(s, tag)
        vd.publish(root, s)
    d = vd.describe_versioned_dir(root)
    assert d["layout"] == "versioned-pointer"
    assert d["generation"] == 2 and d["live"] == "v-000002"
    assert d["versions_on_disk"] == 2 and d["grace_dirs"] == 1
    assert d["live_age_s"] is not None and d["live_age_s"] >= 0

    # a live staging counts; a heartbeat-silent one counts as dead
    s = vd.staging_dir(root)
    d = vd.describe_versioned_dir(root)
    assert d["staging_dirs"] == 1 and d["staging_dead"] == 0
    dead = _time.time() - 2 * vd._STAGING_TTL_S
    os.utime(os.path.join(s, vd._HEARTBEAT_FILE), (dead, dead))
    d = vd.describe_versioned_dir(root)
    assert d["staging_dead"] == 1

    # undeleted trash from a killed publish is visible backlog
    os.makedirs(os.path.join(root, ".trash-deadbeef"))
    assert vd.describe_versioned_dir(root)["trash_backlog"] == 1


def test_warehouse_health_surfaces_versioned_dirs(spark, tmp_path):
    import datetime as dt

    from roborock_data_pipeline_spark import pipeline, schemas
    from roborock_data_pipeline_spark.sources import sinks

    w = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, w)
    # before the first refresh the lifetime root is absent: omitted,
    # not an error
    assert pipeline.warehouse_health(w)["_versioned"] == {}
    ts = dt.datetime(2024, 3, 1, 9)
    df = spark.createDataFrame(
        [(ts, "a", ts, 30.0, 10.0, "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(df, w, "cleaning_records")
    pipeline.refresh_device_lifetime(spark, w)

    v = pipeline.warehouse_health(w)["_versioned"]
    assert v["device_lifetime"]["layout"] == "versioned-pointer"
    assert v["device_lifetime"]["generation"] >= 1
