"""Index layout v2 (VERDICT r11 directive #1): segment publishes and
base commits go through ONE `_segments.json` pointer swap — the same
manifest-commit primitive the warehouse batch log adopted in r11 —
instead of relying on directory-rename atomicity (absent on object
storage). Pins: bootstrap, chaos at every new crash window
(mid-publish, mid-compaction, mid-GC), funnel roll-forward
registration, and GC never eating a committed-but-unregistered
funnel surface."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from roborock_data_pipeline_spark.operators import index_segments as iseg
from roborock_data_pipeline_spark.operators.incremental_dedup import (
    compact_minhash_index,
    probe_minhash_index,
    update_minhash_index,
)


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i} "
              f"eta theta iota kappa") for i in ids],
        "doc_id long, text string",
    )


def _manifest(idx):
    from roborock_data_pipeline_spark.sources import commit_provider

    return json.loads(
        commit_provider.read_pointer(
            os.path.join(idx, iseg.SEGMENTS_MANIFEST)
        )
    )


def test_new_index_bootstraps_manifest(spark, tmp_path):
    idx = str(tmp_path / "idx")
    update_minhash_index(spark, _docs(spark, range(5)), idx, batch_id="b0")
    update_minhash_index(spark, _docs(spark, range(5, 9)), idx, batch_id="b1")
    m = _manifest(idx)
    # r13: gen 0 is the fresh index's EMPTY bootstrap manifest
    # (committed before the first naming rename so a crash there
    # leaves a detectable orphan); each publish then bumps by one
    assert m["generation"] == 2
    assert sorted(m["batches"]) == ["batch-b0", "batch-b1"]
    base, batches = iseg.live_segments(idx)
    assert base is None and [os.path.basename(b) for b in batches] == [
        "batch-b0", "batch-b1",
    ]
    assert iseg.is_committed(idx, "b0") and not iseg.is_committed(idx, "zz")


def test_publish_crash_before_pointer_swap_is_invisible(
    spark, tmp_path, monkeypatch
):
    """Mid-publish kill: the naming rename landed, the pointer swap
    did not — the batch is INVISIBLE (not live, not committed, no
    replay record) and a same-id retry converges by clobbering the
    orphan."""
    idx = str(tmp_path / "idx")
    update_minhash_index(spark, _docs(spark, range(4)), idx, batch_id="b0")

    def bomb(*a, **k):
        raise OSError("injected crash before pointer swap")

    monkeypatch.setattr(iseg, "_commit_segments", bomb)
    with pytest.raises(OSError, match="injected"):
        update_minhash_index(
            spark, _docs(spark, range(4, 8)), idx, batch_id="b1"
        )
    monkeypatch.undo()
    # orphan dir exists on disk but is committed NOWHERE
    assert os.path.isdir(os.path.join(idx, "batch-b1"))
    assert sorted(_manifest(idx)["batches"]) == ["batch-b0"]
    assert not iseg.is_committed(idx, "b1")
    assert iseg.stored_pairs_path(idx, "b1") is None
    _, batches = iseg.live_segments(idx)
    assert [os.path.basename(b) for b in batches] == ["batch-b0"]
    # retry with the SAME id converges (orphan clobbered under lock)
    update_minhash_index(spark, _docs(spark, range(4, 8)), idx, batch_id="b1")
    assert iseg.is_committed(idx, "b1")
    assert probe_minhash_index(
        spark, _docs(spark, range(8)), idx
    ).count() >= 0  # probe runs against a consistent snapshot


def test_compaction_crash_before_pointer_swap_keeps_old_live_set(
    spark, tmp_path, monkeypatch
):
    """Mid-compaction kill: the base dir is named but never committed
    — the live set (and probes) are unchanged; the next GC reclaims
    the orphan base; a retried compaction converges at the next
    generation."""
    idx = str(tmp_path / "idx")
    for i in range(3):
        update_minhash_index(
            spark, _docs(spark, range(4 * i, 4 * i + 4)), idx,
            batch_id=f"b{i}",
        )
    before = _manifest(idx)

    real = iseg._commit_segments

    def bomb(index_dir, base, batches, gen):
        if base is not None and base.startswith("base-"):
            raise OSError("injected crash before base pointer swap")
        return real(index_dir, base, batches, gen)

    monkeypatch.setattr(iseg, "_commit_segments", bomb)
    with pytest.raises(OSError, match="injected"):
        compact_minhash_index(spark, idx)
    monkeypatch.undo()
    assert _manifest(idx) == before  # live set untouched
    orphans = [d for d in os.listdir(idx) if d.startswith("base-")]
    assert len(orphans) == 1
    # mid-GC is safe at any point: GC is absorbed-based + idempotent;
    # here it reclaims the orphan base without touching live batches
    iseg.gc_superseded(idx)
    iseg.gc_superseded(idx)  # idempotent replay == crash mid-GC + rerun
    assert not any(d.startswith("base-") for d in os.listdir(idx))
    assert sorted(_manifest(idx)["batches"]) == [
        "batch-b0", "batch-b1", "batch-b2",
    ]
    # retry converges: one live base, batches absorbed
    assert compact_minhash_index(spark, idx) == 3
    m = _manifest(idx)
    assert m["base"] is not None and m["batches"] == []
    assert iseg.is_committed(idx, "b1")  # replay via the base
    assert iseg.stored_pairs_path(idx, "b1") is not None


def test_gc_spares_committed_but_unregistered_funnel_surface(
    spark, tmp_path
):
    """A funnel transaction that committed its record but crashed
    before re-registering a surface owns a named-but-unmanifested
    dir. GC judges by ABSORPTION, not by manifest membership, so the
    dir survives until register_segment (the roll-forward) makes it
    live."""
    import shutil

    idx = str(tmp_path / "idx")
    for i in range(2):
        update_minhash_index(
            spark, _docs(spark, range(4 * i, 4 * i + 4)), idx,
            batch_id=f"b{i}",
        )
    compact_minhash_index(spark, idx)
    # simulate the funnel: a fully-written batch dir renamed into
    # place but not yet registered (finalize's crash window)
    pending = os.path.join(idx, "batch-pending")
    src = os.path.join(idx, "batch-b0")  # any committed shape
    if not os.path.isdir(src):  # absorbed already GC'd? build one
        update_minhash_index(
            spark, _docs(spark, range(8, 12)), idx, batch_id="tmp"
        )
        src = os.path.join(idx, "batch-tmp")
    shutil.copytree(src, pending)
    iseg.gc_superseded(idx)
    assert os.path.isdir(pending)  # GC must not eat it
    _, before = iseg.live_segments(idx)
    iseg.register_segment(idx, "batch-pending")
    _, after = iseg.live_segments(idx)
    assert len(after) == len(before) + 1
    iseg.register_segment(idx, "batch-pending")  # idempotent
    assert len(iseg.live_segments(idx)[1]) == len(after)


def test_same_id_race_still_loses_loudly(spark, tmp_path):
    """Two writers publishing the SAME batch id: exactly one commits;
    the loser raises ConcurrentWriterError (manifest layout — the
    committed check under the naming lock)."""
    idx = str(tmp_path / "idx")
    update_minhash_index(spark, _docs(spark, range(4)), idx, batch_id="b0")
    staged = str(tmp_path / "staged-dup")
    os.makedirs(os.path.join(staged, "pairs"))
    with pytest.raises(iseg.ConcurrentWriterError, match="already"):
        iseg.publish_segment(staged, os.path.join(idx, "batch-b0"))


def test_epoch_sink_manifest(spark, tmp_path):
    """The streaming pair sink's epochs resolve from `_epochs.json`:
    an orphan epoch dir (crash between naming rename and pointer
    swap) is invisible to read_pairs."""
    from roborock_data_pipeline_spark.streaming import near_dup_pairs as ndp

    pairs_dir = str(tmp_path / "pairs")
    os.makedirs(pairs_dir)
    ndp._commit_epochs(pairs_dir, ["epoch-000000000000"], 0)
    # the committed epoch dir + an orphan dir the manifest never named
    df = spark.createDataFrame(
        [(1, 2, 0.99)], "vec_id_1 long, vec_id_2 long, cosine double"
    )
    df.write.parquet(os.path.join(pairs_dir, "epoch-000000000000"))
    df.write.parquet(os.path.join(pairs_dir, "epoch-000000000001"))
    got = ndp.read_pairs(spark, pairs_dir)
    assert got.count() == 1  # the orphan is invisible


@pytest.mark.local_fs_only("drives the FS-based FaultInjectingBackend; the memory backend gets staleness natively via stale_reads and lost PUTs via lose_swaps_at (r14)")
def test_index_publish_lost_put_fails_whole(spark, tmp_path, monkeypatch):
    """Object-store fault symmetry with the warehouse test: an index
    segment publish whose manifest PUT is ACKed but LOST fails whole
    (CommitLostError; nothing live, replay guard says uncommitted,
    naming lock released) and a same-id retry converges once the
    store recovers."""
    from roborock_data_pipeline_spark.sources import commit_provider as cp

    idx = str(tmp_path / "idx")
    update_minhash_index(spark, _docs(spark, range(4)), idx, batch_id="b0")
    monkeypatch.setattr(
        cp, "BACKEND",
        cp.FaultInjectingBackend(lose_swaps_at=set(range(100))),
    )
    with pytest.raises(cp.CommitLostError):
        update_minhash_index(
            spark, _docs(spark, range(4, 8)), idx, batch_id="b1"
        )
    monkeypatch.setattr(cp, "BACKEND", cp.LocalFSBackend())
    assert sorted(_manifest(idx)["batches"]) == ["batch-b0"]
    assert not iseg.is_committed(idx, "b1")
    # store recovered: the retry clobbers the orphan and commits
    update_minhash_index(spark, _docs(spark, range(4, 8)), idx,
                         batch_id="b1")
    assert iseg.is_committed(idx, "b1")
    # bounded staleness is absorbed transparently on the index path too
    monkeypatch.setattr(
        cp, "BACKEND", cp.FaultInjectingBackend(stale_reads_after_swap=2)
    )
    update_minhash_index(spark, _docs(spark, range(8, 12)), idx,
                         batch_id="b2")
    monkeypatch.setattr(cp, "BACKEND", cp.LocalFSBackend())
    assert iseg.is_committed(idx, "b2")
    assert len(_manifest(idx)["batches"]) == 3


def test_describe_index_and_funnel_health(spark, tmp_path):
    """VERDICT r12 #8: the index layer's metadata-only health surface.
    describe_index reports layout/generation/live counts/GC backlog
    without a Spark job; funnel_health aggregates the funnel's index
    dirs; warehouse_health merges it under _indexes."""
    from roborock_data_pipeline_spark import pipeline

    state = str(tmp_path / "state")
    idx = os.path.join(state, "minhash")
    for i in range(3):
        update_minhash_index(
            spark, _docs(spark, range(4 * i, 4 * i + 4)), idx,
            batch_id=f"b{i}",
        )
    d = iseg.describe_index(idx)
    assert d["layout"] == "segments-manifest"
    assert d["generation"] == 3  # empty bootstrap + 3 publishes
    assert d["live_batches"] == 3 and d["base"] is None
    assert d["gc_backlog_dirs"] == 0 and d["pending_or_orphan_dirs"] == 0

    compact_minhash_index(spark, idx)  # base commits; GC deferred
    d = iseg.describe_index(idx)
    assert d["base"] is not None and d["live_batches"] == 0
    assert d["absorbed_in_base"] == 3
    assert d["gc_backlog_dirs"] == 3  # absorbed dirs awaiting GC grace
    assert d["base_age_s"] is not None and d["base_age_s"] >= 0

    fh = pipeline.funnel_health(state)
    assert set(fh) == {"minhash"}
    assert fh["minhash"]["layout"] == "segments-manifest"
    assert iseg.describe_index(str(tmp_path / "absent")) is None

    # merged into the warehouse dashboard, still zero Spark jobs
    from roborock_data_pipeline_spark.sources import sinks

    w = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, w)
    report = pipeline.warehouse_health(w, funnel_state_dir=state)
    assert report["_indexes"]["minhash"]["layout"] == "segments-manifest"


def test_describe_index_base_age_on_relative_dir(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13 (low): live_segments returns index_dir-joined paths,
    and describe_index re-joined them — doubling the dir for a
    RELATIVE index_dir (idx/idx/base-...), so os.stat raised and
    base_age_s silently reported None (a dashboard reads a missing
    compaction-age signal as unknown). The absolute-path test above
    never caught it because join() discards the first arg when the
    second is absolute."""
    idx = str(tmp_path / "relidx")  # build absolute (Spark's JVM cwd
    # does not follow pytest's chdir), then DESCRIBE relative —
    # describe_index is pure-Python metadata
    for i in range(2):
        update_minhash_index(
            spark, _docs(spark, range(4 * i, 4 * i + 4)), idx,
            batch_id=f"b{i}",
        )
    compact_minhash_index(spark, idx)
    monkeypatch.chdir(tmp_path)
    d = iseg.describe_index("relidx")
    assert d["base"] is not None
    assert d["base_age_s"] is not None and d["base_age_s"] >= 0
