"""Model-based testing of the warehouse batch-log state machine.

Hypothesis drives random op sequences — append, vacuum with a random
retention window, and a default warehouse_maintenance pass — against a
real warehouse AND a plain-Python model of the table contents; after
every op the two must agree exactly. Single-op semantics are pinned
by their own suites; what THIS test hunts is interaction bugs
(appends landing between vacuums, a vacuum absorbing an earlier base,
a maintenance pass over a freshly merged log) that no hand-written
pairing covers exhaustively.

Kept deliberately small (few examples, short sequences) — each op is
a real Spark job; the value is the randomized INTERLEAVING, not bulk.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings, strategies as st

from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.sources import sinks

DEVICES = ["robo-a", "robo-b", "robo-c"]


def _row(device, day, area, status):
    ts = dt.datetime(2024, 3, day, 9)
    return (ts, device, ts, 30.0, float(area), "standard", "vacuum", 0, status)


def _key(r):
    return (r[1], r[0].day, r[4], r[8])


def _append_op(max_rows):
    return st.tuples(
        st.just("append"),
        st.lists(
            st.tuples(
                st.sampled_from(DEVICES),
                st.integers(1, 9),
                st.integers(1, 50),
            ),
            min_size=1,
            max_size=max_rows,
        ),
    )


_ops = st.one_of(
    _append_op(3),
    st.tuples(st.just("vacuum"), st.integers(0, 2)),
    # a default warehouse_maintenance pass (vacuum every table),
    # interleaved with everything else
    st.tuples(st.just("maintenance")),
)


def _append(spark, wh, rows):
    sinks.append_rows(
        spark.createDataFrame(rows, schemas.CLEANING_RECORDS),
        wh,
        "cleaning_records",
    )


def _read_keys(spark, wh):
    return sorted(
        _key(tuple(r))
        for r in sinks.read_table(spark, wh, "cleaning_records").collect()
    )


@given(st.lists(_ops, min_size=2, max_size=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_dml_interleavings_match_model(spark, ops):
    wh = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, wh)
    model: list[tuple] = []  # mirrors cleaning_records rows
    try:
        for op in ops:
            if op[0] == "append":
                rows = [_row(d, day, area, "ok") for d, day, area in op[1]]
                _append(spark, wh, rows)
                model.extend(rows)
            elif op[0] == "vacuum":
                sinks.vacuum_table(spark, wh, "cleaning_records", op[1])
            elif op[0] == "maintenance":
                sinks.warehouse_maintenance(spark, wh, retain_last_n=2)
            assert _read_keys(spark, wh) == sorted(
                _key(r) for r in model
            ), (op, ops)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# ------------------------------------------------------------------ #
# r12: the model against the COMMIT-PROVIDER INTERFACE with injected  #
# object-store faults (lost ACKed PUTs + stale read-after-write) —    #
# failure modes the local FS can never produce. Invariant: a lost     #
# commit fails the mutation WHOLE (reads stay consistent, locks are   #
# released, later ops proceed from the last committed state).         #
# ------------------------------------------------------------------ #

_fault_ops = st.one_of(
    _append_op(2),
    st.tuples(st.just("vacuum"), st.integers(0, 2)),
)


def _drive_fault_schedule(spark, wh, ops):
    """Shared op-alphabet driver for the fault-injection model tests
    (FS and rename-free backends): apply ``ops`` against the real
    warehouse AND the in-memory ``model``, absorbing CommitLostError
    as mutation-failed-WHOLE (resync the model from the committed
    state); assert read == model after every op. Returns (model,
    n_lost)."""
    from roborock_data_pipeline_spark.sources import commit_provider as cp

    model: list[tuple] = []
    n_lost = 0
    for op in ops:
        try:
            if op[0] == "append":
                rows = [_row(d, day, a, "ok") for d, day, a in op[1]]
                _append(spark, wh, rows)
                model.extend(rows)
            elif op[0] == "vacuum":
                sinks.vacuum_table(spark, wh, "cleaning_records", op[1])
        except cp.CommitLostError:
            # the mutation failed WHOLE: resync the model to the
            # last committed state; everything after must proceed
            # from it (locks released, manifests readable)
            n_lost += 1
            model = [
                tuple(r)
                for r in sinks.read_table(
                    spark, wh, "cleaning_records"
                ).collect()
            ]
        assert _read_keys(spark, wh) == sorted(
            _key(r) for r in model
        ), (op, ops)
    return model, n_lost


@given(
    st.lists(_fault_ops, min_size=2, max_size=5),
    st.sets(st.integers(0, 10), max_size=2),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_model_against_fault_injecting_backend(spark, ops, lose_at):
    from roborock_data_pipeline_spark.sources import commit_provider as cp

    wh = tempfile.mkdtemp()
    backend_before = cp.BACKEND
    try:
        sinks.setup_warehouse(spark, wh)
        # faults start AFTER provisioning so lose_at indexes land on
        # the op alphabet: every commit's read-back sees one stale
        # read (absorbed by the verify retry); the swap-call indexes
        # in lose_at are ACKed but never applied (must surface as
        # CommitLostError, mutation whole)
        cp.BACKEND = cp.FaultInjectingBackend(
            lose_swaps_at=lose_at, stale_reads_after_swap=1
        )
        model, n_lost = _drive_fault_schedule(spark, wh, ops)
        # a lost commit never bricks the table: one clean append and a
        # heal-vacuum always succeed afterwards (fresh backend = the
        # store recovered)
        cp.BACKEND = cp.LocalFSBackend()
        rows = [_row("robo-a", 1, 7, "ok")]
        _append(spark, wh, rows)
        model.extend(rows)
        sinks.vacuum_table(spark, wh, "cleaning_records", 0)
        assert _read_keys(spark, wh) == sorted(
            _key(r) for r in model
        ), (ops, lose_at, n_lost)
    finally:
        cp.BACKEND = backend_before
        shutil.rmtree(wh, ignore_errors=True)


@given(
    st.lists(_fault_ops, min_size=2, max_size=5),
    st.sets(st.integers(0, 10), max_size=2),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_model_against_memory_backend_with_lost_puts(spark, ops, lose_at):
    """VERDICT r13 #5: the same fault schedule on the RENAME-FREE
    backend. FaultInjectingBackend subclasses LocalFSBackend, so the
    CommitLostError protocol paths were previously only exercised
    rename-full; here every pointer commit is one dict PUT —
    ``os.replace`` does not exist — the swap-call indexes in lose_at
    are ACKed-never-applied, and every read after a swap serves the
    pre-swap bytes once (absorbed by commit_pointer's verified
    read-back). Invariant unchanged: a lost commit fails the mutation
    WHOLE and the warehouse keeps serving the last committed state."""
    from roborock_data_pipeline_spark.sources import commit_provider as cp

    wh = tempfile.mkdtemp()
    backend_before = cp.BACKEND
    try:
        b = cp.InMemoryObjectStoreBackend(stale_reads=1)
        cp.BACKEND = b
        sinks.setup_warehouse(spark, wh)
        # faults armed AFTER provisioning, relative to the current
        # swap count — the memory twin of swapping the backend in
        b.lose_next_swaps(lose_at)
        model, n_lost = _drive_fault_schedule(spark, wh, ops)
        # recovery: the SAME backend (its dict IS the store — a fresh
        # one would be an empty bucket), faults stopped
        b.clear_faults()
        rows = [_row("robo-a", 1, 7, "ok")]
        _append(spark, wh, rows)
        model.extend(rows)
        sinks.vacuum_table(spark, wh, "cleaning_records", 0)
        assert _read_keys(spark, wh) == sorted(
            _key(r) for r in model
        ), (ops, lose_at, n_lost)
    finally:
        cp.BACKEND = backend_before
        shutil.rmtree(wh, ignore_errors=True)
