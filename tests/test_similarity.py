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
    """An Arrow-batched numpy brute-force top-k -- one matmul per
    batch, each batch pruned to its local top-k by (cosine desc,
    vec_id asc), rounded JVM-side -- returns exactly the codegen HOF
    q_similarity_search (same scores, same order)."""
    import numpy as np
    import pandas as pd

    from roborock_data_pipeline_spark.operators.similarity import (
        QUERY_VEC_ID,
        TOP_K,
        q_similarity_search,
    )
    from roborock_data_pipeline_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"]
    q = np.asarray(qvec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def score(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cos = (m @ q) / (np.linalg.norm(m, axis=1) * qn)
            out = pd.DataFrame(
                {"vec_id": pdf["vec_id"], "label": pdf["label"], "cosine": cos}
            )
            yield out.sort_values(
                ["cosine", "vec_id"], ascending=[False, True]
            ).head(TOP_K)

    brute = (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "embedding")
        .mapInPandas(score, "vec_id long, label int, cosine double")
        .select("vec_id", "label", F.round("cosine", 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )
    got = [(r.vec_id, r.label, r.cosine) for r in brute.collect()]
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
