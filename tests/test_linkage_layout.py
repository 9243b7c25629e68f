"""Unit semantics for linkage/layout operators (their registered
queries are oracle-checked; these pin the reusable functions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from roborock_data_pipeline_spark.operators.layout import zorder_key
from roborock_data_pipeline_spark.operators.linkage import cdc_merge


def _snap(spark, rows):
    return spark.createDataFrame(
        rows, "k long, v string, ts long, seq long, is_delete boolean"
    )


def test_cdc_merge_tombstone_drops_key(spark):
    snap = _snap(spark, [(1, "a", 10, 0, False), (2, "b", 10, 0, False)])
    chg = _snap(spark, [(1, "a2", 20, 1, False), (2, None, 20, 1, True)])
    got = {
        r.k: r.v
        for r in cdc_merge(snap, chg, ["k"], ["ts", "seq"], "is_delete").collect()
    }
    assert got == {1: "a2"}


def test_cdc_merge_delete_then_reinsert_wins(spark):
    snap = _snap(spark, [(1, "a", 10, 0, False)])
    chg = _snap(spark, [(1, None, 20, 1, True), (1, "re", 30, 2, False)])
    got = cdc_merge(snap, chg, ["k"], ["ts", "seq"], "is_delete").collect()
    assert [(r.k, r.v) for r in got] == [(1, "re")]


def test_cdc_merge_batch_outranks_snapshot_at_equal_order(spark):
    # same (ts, seq): the change batch is newer by definition
    snap = _snap(spark, [(1, "old", 10, 0, False)])
    chg = _snap(spark, [(1, "new", 10, 0, False)])
    got = cdc_merge(snap, chg, ["k"], ["ts", "seq"], "is_delete").collect()
    assert [(r.k, r.v) for r in got] == [(1, "new")]


def test_cdc_merge_untouched_snapshot_rows_survive(spark):
    snap = _snap(spark, [(1, "a", 10, 0, False), (3, "c", 10, 0, False)])
    chg = _snap(spark, [(1, "a2", 20, 1, False)])
    got = {
        r.k: r.v
        for r in cdc_merge(snap, chg, ["k"], ["ts", "seq"], "is_delete").collect()
    }
    assert got == {1: "a2", 3: "c"}


def _py_zorder(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_matches_reference_bit_interleave(spark):
    rows = [(x, y) for x in (0, 1, 5, 200, 255) for y in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    for r in got:
        assert r.z == _py_zorder(r.x, r.y), (r.x, r.y)


def test_zorder_locality_bounds_both_dims(spark, sf_dir):
    """Each Z file-bucket spans at most a 32-wide range on BOTH
    dimensions (prefix of 10 z-bits fixed => low 5 x-bits and low 5
    y-bits free) — the property that makes min/max pruning selective
    on either predicate, which a plain one-column sort cannot give."""
    from roborock_data_pipeline_spark.operators.layout import q_zorder_layout

    for r in q_zorder_layout(spark, sf_dir).collect():
        assert r.max_cust - r.min_cust <= 31
        assert r.max_day - r.min_day <= 31


def test_date_scaffold_dense_and_zero_filled(spark, sf_dir):
    from roborock_data_pipeline_spark.operators.layout import q_date_scaffold

    rows = q_date_scaffold(spark, sf_dir).collect()
    dates = {r.date for r in rows}
    types = {r.event_type for r in rows}
    # dense: every (date, type) cell exists exactly once
    assert len(rows) == len(dates) * len(types)
    assert all(r.n_events >= 0 for r in rows)


def test_cdc_merge_matches_reference_model_randomized(spark):
    """Model-based check: random op sequences applied through
    cdc_merge in two chunks (snapshot build + change batch) must
    equal a sequential dict-based reference interpreter."""
    import random

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        ops = []
        for i in range(120):
            k = rng.randrange(8)
            is_del = rng.random() < 0.25
            # ts deliberately non-monotonic with duplicates; seq breaks ties
            ops.append((k, f"v{i}", rng.randrange(20), i, is_del))

        # reference: latest (ts, seq) version per key wins; tombstone hides
        best: dict[int, tuple] = {}
        for k, v, ts, seq, is_del in ops:
            if k not in best or (ts, seq) > (best[k][2], best[k][3]):
                best[k] = (k, v, ts, seq, is_del)
        expect = {k: r[1] for k, r in best.items() if not r[4]}

        cut = len(ops) // 2
        # snapshot = latest per key of the first half, tombstones kept
        stored: dict[int, tuple] = {}
        for k, v, ts, seq, is_del in ops[:cut]:
            if k not in stored or (ts, seq) > (stored[k][2], stored[k][3]):
                stored[k] = (k, v, ts, seq, is_del)
        assert any(r[4] for r in stored.values()), f"seed {seed}"
        from roborock_data_pipeline_spark.operators.linkage import cdc_merge

        merged = cdc_merge(
            _snap(spark, list(stored.values())), _snap(spark, ops[cut:]),
            ["k"], ["ts", "seq"], "is_delete",
        )
        got = {r.k: r.v for r in merged.collect()}
        assert got == expect, f"seed {seed}"
