"""Similarity-search properties beyond the oracle check."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    """LSH top-k results must be genuine cosine scores: every LSH hit
    appears in the brute-force ranking with the same cosine."""
    from roborock_data_pipeline_spark.operators.similarity import (
        q_similarity_lsh,
        q_similarity_search,
    )

    brute = {r.vec_id: r.cosine for r in q_similarity_search(spark, sf_dir).collect()}
    # widen the brute-force list for comparison
    lsh = q_similarity_lsh(spark, sf_dir).collect()
    assert len(lsh) > 0
    for r in lsh:
        if r.vec_id in brute:
            assert abs(r.cosine - brute[r.vec_id]) < 1e-6


def test_ivf_recall_on_clustered_data(spark):
    """On a corpus with real locality (3 tight clusters), IVF with
    1-cell probing recovers the full brute-force top-k."""
    import random

    from roborock_data_pipeline_spark.operators.similarity import ivf_topk

    rng = random.Random(7)
    rows = []
    centers = [[5.0 if d == c else 0.0 for d in range(8)] for c in (0, 3, 6)]
    for i in range(90):
        c = i % 3
        vec = [x + rng.uniform(-0.3, 0.3) for x in centers[c]]
        rows.append((i, vec, c))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    got = ivf_topk(df, query_vec_id=0, k=5, nprobe=1).collect()
    assert len(got) == 5
    # every neighbor must come from the query's own cluster
    assert all(r.label == 0 for r in got)


def _small_emb(spark, dims: int):
    return spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) for d in range(dims)], 0) for i in range(12)],
        "vec_id long, embedding array<double>, label int",
    )


def test_ivf_topk_names_a_missing_query_vector(spark):
    import pytest

    from roborock_data_pipeline_spark.operators.similarity import ivf_topk

    with pytest.raises(ValueError, match="vec_id 999"):
        ivf_topk(_small_emb(spark, 8), query_vec_id=999, k=3, nprobe=1)


def test_pq_topk_names_a_missing_query_vector(spark):
    import pytest

    from roborock_data_pipeline_spark.operators.similarity import pq_topk

    with pytest.raises(ValueError, match="vec_id 999"):
        pq_topk(_small_emb(spark, 64), query_vec_id=999, k=3)


def test_ivf_runs_on_testdata(spark, sf_dir):
    """Machinery check on the real table (uniform-random vectors →
    recall is geometry-bound; assert shape + score validity only)."""
    from roborock_data_pipeline_spark.operators.similarity import q_similarity_ivf

    rows = q_similarity_ivf(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)


def test_cosine_self_similarity(spark, sf_dir):
    """cos(v, v) == 1 for every vector (sanity of the HOF math)."""
    from roborock_data_pipeline_spark.functions.arrays import cosine
    from roborock_data_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").limit(50)
    bad = (
        emb.select(cosine(F.col("embedding"), F.col("embedding")).alias("c"))
        .where(F.abs(F.col("c") - 1.0) > 1e-9)
        .count()
    )
    assert bad == 0


def test_topk_is_sorted_descending(spark, sf_dir):
    from roborock_data_pipeline_spark.operators.similarity import q_similarity_search

    rows = q_similarity_search(spark, sf_dir).collect()
    scores = [r.cosine for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 10


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted cell-partitioned index: (1) the probe's scan
    carries a PartitionFilter on `cell` (unprobed cells never read);
    (2) results are identical to the in-memory ivf_topk at the same
    nprobe."""
    from roborock_data_pipeline_spark.operators.similarity import (
        QUERY_VEC_ID,
        ivf_probe_indexed,
        ivf_topk,
        write_ivf_index,
    )
    from roborock_data_pipeline_spark.plans.inspect import plan_string
    from roborock_data_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    write_ivf_index(emb, idx)

    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    got = ivf_probe_indexed(
        spark, idx, qvec, nprobe=2, exclude_vec_id=QUERY_VEC_ID
    )
    plan = plan_string(got)
    part_filters = plan.split("PartitionFilters", 1)
    assert len(part_filters) == 2, "probe scan must have PartitionFilters"
    assert "cell" in part_filters[1][:200]

    expect = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(emb, QUERY_VEC_ID, nprobe=2).collect()
    ]
    assert [(r.vec_id, r.cosine) for r in got.collect()] == expect


def test_blocked_pairs_hot_block_bounded(spark):
    """Block-population cap property: one hot label holding 50% of the
    corpus generates ≤ n_bands·cap·|block| pairs (banded LSH
    sub-split — the bands are a constant multiplier on the old
    cap·|block| bound, the price of near-dup recall), nowhere near
    the |block|² of uncapped all-pairs; with cap ≥ |block| the output
    is exactly the complete pair set (each unordered pair exactly
    once — pair-complete salting, band dedup)."""
    import random

    from roborock_data_pipeline_spark.operators.similarity import (
        N_BANDS,
        blocked_pairs,
    )

    rng = random.Random(11)
    hot, total, dims = 200, 400, 8
    rows = [
        (
            i,
            [rng.uniform(-1.0, 1.0) for _ in range(dims)],
            0 if i < hot else 1 + (i % 8),  # label 0 = hot block (50%)
        )
        for i in range(total)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    cap = 16
    capped = blocked_pairs(df, cap=cap)
    hot_pairs = capped.where(
        (F.col("id1") < hot) & (F.col("id2") < hot)
    ).count()
    assert hot_pairs <= N_BANDS * cap * hot  # the scale bound
    assert hot_pairs < hot * (hot - 1) // 2  # strictly sub-quadratic
    assert hot_pairs > 0  # sub-blocks still pair internally

    # completeness below the cap: every unordered pair exactly once
    exact = hot * (hot - 1) // 2 + 8 * (25 * 24 // 2)
    assert blocked_pairs(df, cap=10**6).count() == exact


def test_blocked_pairs_cap_engaged_recall(spark):
    """The r9 recall property the banded LSH sub-split exists for:
    with the cap ENGAGED on an oversized block, near-dup pairs
    (cos ≥ 0.9) survive the sub-split with ≥ 95% recall — the old
    vec_id-hash split forfeited ~(g-1)/g ≈ 75% of them at g=4. Built
    as 64 twin-families of 4 near-identical vectors (the true pair
    set = 6 intra-family pairs each) inside ONE 256-member block,
    cap=64 → g=4."""
    import random

    from roborock_data_pipeline_spark.operators.similarity import blocked_pairs

    rng = random.Random(7)
    fams, fam_size, dims = 64, 4, 16
    rows = []
    for f in range(fams):
        base = [rng.uniform(-1.0, 1.0) for _ in range(dims)]
        for m in range(fam_size):
            rows.append(
                (
                    f * fam_size + m,
                    [x + rng.uniform(-0.01, 0.01) for x in base],
                    0,
                )
            )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    def near(pairs):
        return {
            (r["id1"], r["id2"])
            for r in pairs.where(F.col("cos") >= 0.9).collect()
        }

    true_pairs = near(blocked_pairs(df, cap=10**6))
    assert len(true_pairs) >= fams * 6  # every intra-family pair qualifies
    got = near(blocked_pairs(df, cap=64))
    assert got <= true_pairs  # capping only restricts candidates
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.95, f"cap-engaged recall {recall:.3f}"


def test_pandas_brute_topk_equals_codegen(spark, sf_dir):
    """The Arrow-batched numpy rerank returns exactly the codegen HOF
    brute-force top-k (same scores, same order)."""
    from roborock_data_pipeline_spark.operators.similarity import (
        QUERY_VEC_ID,
        brute_topk_pandas,
        q_similarity_search,
    )
    from roborock_data_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    got = [
        (r.vec_id, r.label, r.cosine)
        for r in brute_topk_pandas(
            emb, qvec, exclude_vec_id=QUERY_VEC_ID
        ).collect()
    ]
    want = [
        (r.vec_id, r.label, r.cosine)
        for r in q_similarity_search(spark, sf_dir).collect()
    ]
    assert got == want


def test_pq_codes_and_codebook_shape(spark, sf_dir):
    """PQ: codebook is m x ksub x d/m; every vector encodes to m codes
    in [0, ksub); empty codes keep their seed centroid."""
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.operators import similarity as S
    from roborock_data_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cb = S.pq_fit(emb, m=S.PQ_M, ksub=S.PQ_KSUB, iters=2)
    assert len(cb) == S.PQ_M
    assert all(len(cents) == S.PQ_KSUB for cents in cb)
    d = len(emb.select("embedding").first()["embedding"])
    assert all(len(c) == d // S.PQ_M for cents in cb for c in cents)
    codes = emb.select(
        F.explode(S._pq_codes_udf(cb)(F.col("embedding"))).alias("c")
    )
    r = codes.agg(F.min("c").alias("lo"), F.max("c").alias("hi")).first()
    assert 0 <= r.lo and r.hi < S.PQ_KSUB


def test_pq_recovers_clustered_neighbors(spark):
    """On well-separated clusters PQ's ADC ranking must put same-
    cluster vectors on top — the geometry where ANN is meaningful."""
    import random

    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.operators import similarity as S

    rnd = random.Random(7)
    rows = []
    for vid in range(120):
        cl = vid % 3
        base = [0.0] * 64
        base[cl * 20] = 10.0  # far-apart cluster anchors
        rows.append(
            (vid, [base[j] + rnd.gauss(0, 0.2) for j in range(64)], cl)
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    top = S.pq_topk(emb, query_vec_id=0, k=10).collect()
    same = sum(1 for r in top if r["label"] == 0)
    assert same >= 9, [r["label"] for r in top]


def test_ivfpq_probe_pruned_and_clustered_correct(spark, tmp_path):
    """IVF-PQ persisted index: the probe partition-prunes to the
    probed cell, the ADC phase's scan reads codes NOT the embedding
    column, the rerank scan carries the candidate-id pushdown, and on
    separated clusters the final top-k is same-cluster."""
    import random

    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.operators import similarity as S
    from roborock_data_pipeline_spark.plans.inspect import (
        plan_string,
        pushed_filters,
        read_schemas,
    )

    rnd = random.Random(11)
    rows = []
    for vid in range(150):
        cl = vid % 3
        base = [0.0] * 64
        base[cl * 20] = 10.0
        rows.append(
            (vid, [base[j] + rnd.gauss(0, 0.2) for j in range(64)], cl)
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    idx = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(emb, idx)
    q = rows[0][1]
    res = S.ivfpq_probe_indexed(
        spark, idx, q, k=5, nprobe=1, rerank=20, exclude_vec_id=0
    )
    got = res.collect()
    assert len(got) == 5
    assert all(r["label"] == 0 for r in got), [r["label"] for r in got]
    # rerank scan: candidate ids pushed down, one partition probed
    plan = plan_string(res)
    assert "PartitionFilters" in plan and "cell" in plan
    assert "vec_id" in pushed_filters(res)
    # ADC phase reads codes, never the raw vectors (column pruning)
    cells = [r["cell"] for r in spark.read.parquet(idx)
             .where(F.col("vec_id") == 1).select("cell").collect()]
    adc = (
        spark.read.parquet(idx)
        .where(F.col("cell").isin(cells))
        .select("vec_id", "codes", "vnorm")
    )
    rs = read_schemas(adc)
    assert "codes" in rs and "embedding" not in rs


def _clustered_emb(spark, offset_dim, id_base=0, n=150, seed=11):
    """3 separated clusters whose peak dimension starts at
    ``offset_dim`` — shifting it simulates corpus drift."""
    import random

    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        cl = i % 3
        base = [0.0] * 64
        base[offset_dim + cl * 20] = 10.0
        rows.append(
            (id_base + i, [base[j] + rnd.gauss(0, 0.2) for j in range(64)], cl)
        )
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_rebuild_ivfpq_index_retrains_and_swaps_atomically(
    spark, tmp_path, monkeypatch
):
    """VERDICT r5 #7 + r12 #1: offline IVF-PQ refresh. Build on corpus
    v1, drift to v2 (cluster peaks moved, new ids), rebuild — the
    probe must serve v2 with retrained centroids/codebooks and pass
    the approximation-ratio gate (>=0.7 of brute-force top-k quality).
    The COMMIT is one `_current.json` pointer swap through the
    commit-provider seam; a crash at the former two-rename kill window
    (staged named, pointer not yet swapped) must leave the OLD index
    fully serving — the pre-r13 code left NO index visible there —
    with the retry converging over the invisible orphan."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.functions.arrays import cosine
    from roborock_data_pipeline_spark.operators import similarity as S
    from roborock_data_pipeline_spark.sources import (
        commit_provider,
        versioned_dir,
    )

    rows1, emb1 = _clustered_emb(spark, 0, id_base=0)
    rows2, emb2 = _clustered_emb(spark, 5, id_base=10_000, seed=13)
    idx = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(emb1, idx)
    # self-contained nested layout inside the pointer-named version
    # dir: no sibling metadata dirs
    live1 = versioned_dir.resolve(idx)
    assert live1 == os.path.join(idx, "v-000001")
    assert os.path.isdir(os.path.join(live1, "_centroids"))
    assert os.path.isdir(os.path.join(live1, "_codebook"))
    assert not os.path.isdir(idx + "_centroids")

    q1 = rows1[0][1]
    got1 = S.ivfpq_probe_indexed(spark, idx, q1, k=5, nprobe=1, rerank=20,
                                 exclude_vec_id=0).collect()
    assert [r["label"] for r in got1] == [0] * 5

    # crash at the commit point: the pointer swap for THIS index dies
    # after the naming rename (the exact window that used to leave no
    # index) — old index must keep serving, orphan invisible
    real_swap = commit_provider.BACKEND.swap_pointer
    state = {"fired": False}

    def bomb(path, data):
        if path == os.path.join(idx, "_current.json") and not state["fired"]:
            state["fired"] = True
            raise OSError("injected commit crash")
        return real_swap(path, data)

    monkeypatch.setattr(commit_provider.BACKEND, "swap_pointer", bomb)
    with pytest.raises(OSError, match="injected"):
        S.rebuild_ivfpq_index(spark, idx, emb2)
    monkeypatch.undo()
    assert state["fired"]
    assert os.path.isdir(os.path.join(idx, "v-000002"))  # orphan, named
    assert versioned_dir.resolve(idx) == live1  # ...but NOT live
    assert not [d for d in os.listdir(idx) if d.startswith(".staging-")]
    still = S.ivfpq_probe_indexed(spark, idx, q1, k=5, nprobe=1, rerank=20,
                                  exclude_vec_id=0).collect()
    assert [(r["vec_id"], r["cosine"]) for r in still] == [
        (r["vec_id"], r["cosine"]) for r in got1
    ]

    # retry: rebuild on the drifted corpus, then the gate
    n = S.rebuild_ivfpq_index(spark, idx, emb2)
    assert n == 150
    q2 = rows2[0][1]
    got2 = S.ivfpq_probe_indexed(spark, idx, q2, k=5, nprobe=1, rerank=20,
                                 exclude_vec_id=10_000).collect()
    assert [r["label"] for r in got2] == [0] * 5
    assert all(r["vec_id"] >= 10_000 for r in got2)  # serving v2 only

    qv = F.array(*[F.lit(float(x)) for x in q2])
    brute = (
        emb2.where(F.col("vec_id") != 10_000)
        .select("vec_id", cosine(F.col("embedding"), qv).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(5)
        .collect()
    )
    ratio = sum(r["cosine"] for r in got2) / sum(r["cos"] for r in brute)
    assert ratio >= 0.7, ratio  # the q_similarity_pq_check bound

    # self-rebuild (emb=None): retrain from the index's own vectors
    assert S.rebuild_ivfpq_index(spark, idx) == 150
    again = S.ivfpq_probe_indexed(spark, idx, q2, k=5, nprobe=1, rerank=20,
                                  exclude_vec_id=10_000).collect()
    assert [r["label"] for r in again] == [0] * 5


def test_blocked_pairs_streaming_auto_banded(spark):
    """r10 (VERDICT r9 missing #3): a STREAMING caller cannot reach
    the eager regime probe — blocked_pairs auto-selects the lazily
    split banded form when the input is streaming (an eager .first()
    would throw at plan time, and a growing source invalidates a
    baked-in exact regime anyway), and records the decision in the
    driver-side regime telemetry."""
    from roborock_data_pipeline_spark.operators import similarity

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        .select(
            F.col("value").alias("vec_id"),
            (F.col("value") % 3).cast("int").alias("label"),
            F.array(
                *[(F.col("value") % (i + 2)).cast("float") for i in range(8)]
            ).alias("embedding"),
        )
    )
    pairs = similarity.blocked_pairs(sdf)  # must NOT run an eager probe
    assert pairs.isStreaming
    assert similarity.LAST_REGIME["path"] == "banded"
    assert similarity.LAST_REGIME["forced"] is True
    assert similarity.LAST_REGIME["streaming"] is True


def test_regime_telemetry_in_warehouse_health(spark, sf_dir, tmp_path):
    """VERDICT r9 #8: after a blocked_pairs plan is built, the
    warehouse health snapshot surfaces which path it took and the
    probed max-block/cap — regime flips visible without reading
    Spark plans."""
    from roborock_data_pipeline_spark import pipeline
    from roborock_data_pipeline_spark.operators import similarity
    from roborock_data_pipeline_spark.sources import sinks as _sinks
    from roborock_data_pipeline_spark.sources.tables import load

    wh = str(tmp_path / "wh")
    _sinks.setup_warehouse(spark, wh)
    emb = load(spark, sf_dir, "embeddings")
    similarity.blocked_pairs(emb)  # exact regime at test SF
    health = pipeline.warehouse_health(wh)
    reg = health["_blocked_pairs_regime"]
    assert reg["path"] == "exact"
    assert reg["max_block"] <= reg["cap"]
    similarity.blocked_pairs(emb, cap=4, tag="probe")  # banded regime
    h2 = pipeline.warehouse_health(wh)
    reg2 = h2["_blocked_pairs_regime"]
    assert reg2["path"] == "banded" and reg2["cap"] == 4
    # r11 (ADVICE): each entry carries its caller identity, and the
    # snapshot includes a bounded history so a gate's two plan builds
    # (exact truth + capped) are both visible — not just whoever
    # planned last
    assert reg2["tag"] == "probe"
    hist = h2["_blocked_pairs_regime_history"]
    assert hist[-1]["tag"] == "probe" and hist[-1]["path"] == "banded"
    assert any(r["path"] == "exact" for r in hist[:-1])


def test_blocked_pairs_streaming_executes_end_to_end(spark, tmp_path):
    """The streaming banded form doesn't just plan — it RUNS as a
    continuous query (stream-stream self-join, no post-join
    aggregate, append mode) and produces within-label pairs. Pinned
    because the r10 first-collision design is exactly what makes an
    aggregate-free streaming plan possible."""
    import time as _time

    from roborock_data_pipeline_spark.operators import similarity

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sdf = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "200")
            .load()
            .select(
                F.col("value").alias("vec_id"),
                (F.col("value") % 2).cast("int").alias("label"),
                F.array(
                    *[
                        ((F.col("value") + i) % 7).cast("float")
                        for i in range(8)
                    ]
                ).alias("embedding"),
            )
        )
        pairs = similarity.blocked_pairs(sdf)
        q = (
            pairs.writeStream.format("memory")
            .queryName("bp_stream_exec")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="5 seconds")
            .start()
        )
        try:
            deadline = _time.time() + 120
            rows = 0
            while _time.time() < deadline and rows == 0:
                _time.sleep(5)
                assert q.exception() is None, str(q.exception())
                rows = spark.sql(
                    "select count(*) from bp_stream_exec"
                ).first()[0]
            assert rows > 0, "streaming banded form produced no pairs"
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_pair_kernel_matches_join_form_exactly(spark, sf_dir):
    """The Arrow/BLAS pair kernel must stay BIT-IDENTICAL to the
    salted-join form — same pair set, same cos to the last bit —
    across the exact regime, an engaged cap, and an in-join
    threshold. This is the invariant that lets the kernel inherit
    every committed parity record; if the kernel's accumulation
    order ever drifts from the fold's (e.g. someone swaps the
    rank-1 loop for np.dot), this catches it."""
    from roborock_data_pipeline_spark.operators import similarity
    from roborock_data_pipeline_spark.sources.tables import load, spread

    emb = spread(load(spark, sf_dir, "embeddings"))

    def via(kernel, cap, min_cos=None):
        old = similarity._KERNEL_MAX_CELL
        similarity._KERNEL_MAX_CELL = 4096 if kernel else 0
        try:
            return similarity.blocked_pairs(emb, cap=cap, min_cos=min_cos)
        finally:
            similarity._KERNEL_MAX_CELL = old

    for cap, mc in ((4096, None), (16, None), (1024, 0.9)):
        k, j = via(True, cap, mc), via(False, cap, mc)
        nk, nj = k.count(), j.count()
        assert nk == nj, f"cap={cap} min_cos={mc}: {nk} vs {nj} rows"
        # exact (unrounded) value equality: every (id1, id2, cos)
        # row must appear in BOTH frames
        diff = (
            k.unionByName(j)
            .groupBy("id1", "id2", "cos")
            .count()
            .where(F.col("count") != 2)
            .count()
        )
        assert diff == 0, f"cap={cap} min_cos={mc}: {diff} value diffs"


def test_pair_kernel_join_equivalence_on_degenerate_inputs(spark, sf_dir):
    """r11 (ADVICE): zero-norm embeddings (NaN cosine — numpy drops
    under `>= t`, Spark SQL's NaN-greater ordering keeps) and null
    labels (kernel's groupBy pairs them, join's null-unsafe equality
    never does) used to give the two execution forms DIFFERENT pair
    sets. blocked_pairs now excludes both classes upstream of either
    form, so the bit-equivalence must hold on a corpus salted with
    exactly those degenerate rows — and neither form may emit a pair
    touching a degenerate vec_id."""
    from pyspark.sql import types as T

    from roborock_data_pipeline_spark.operators import similarity
    from roborock_data_pipeline_spark.sources.tables import load, spread

    base = spread(load(spark, sf_dir, "embeddings"))
    dim = len(base.select("embedding").first()[0])
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    lbl = base.select("label").first()[0]
    degen = spark.createDataFrame(
        [
            # two zero vectors sharing a real label: cos = 0/0 = NaN
            (10**9 + 1, lbl, [0.0] * dim),
            (10**9 + 2, lbl, [0.0] * dim),
            # two null-label rows with valid embeddings
            (10**9 + 3, None, [1.0] + [0.0] * (dim - 1)),
            (10**9 + 4, None, [1.0] + [0.0] * (dim - 1)),
        ],
        schema,
    )
    emb = base.select("vec_id", "label", "embedding").unionByName(degen)

    def via(kernel, min_cos):
        old = similarity._KERNEL_MAX_CELL
        similarity._KERNEL_MAX_CELL = 4096 if kernel else 0
        try:
            return similarity.blocked_pairs(emb, min_cos=min_cos)
        finally:
            similarity._KERNEL_MAX_CELL = old

    for mc in (None, 0.9):
        k, j = via(True, mc), via(False, mc)
        assert k.count() == j.count(), f"min_cos={mc}: row counts differ"
        diff = (
            k.unionByName(j)
            .groupBy("id1", "id2", "cos")
            .count()
            .where(F.col("count") != 2)
            .count()
        )
        assert diff == 0, f"min_cos={mc}: {diff} value diffs"
        touched = k.where(
            (F.col("id1") > 10**9) | (F.col("id2") > 10**9)
        ).count()
        assert touched == 0, "degenerate rows leaked into the pair set"
