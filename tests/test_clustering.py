"""K-means properties (q_kmeans_clusters has no SQL oracle — the
fixed-point loop isn't SQL-expressible — so these property tests are
its correctness evidence)."""

from __future__ import annotations

import random


from roborock_data_pipeline_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    q_kmeans_clusters,
)


def _clustered_df(spark, k=3, per=30, dim=8, noise=0.3, seed=7):
    rng = random.Random(seed)
    centers = [[5.0 if d == (c * dim // k) else 0.0 for d in range(dim)]
               for c in range(k)]
    rows = []
    for i in range(k * per):
        c = i % k
        vec = [x + rng.uniform(-noise, noise) for x in centers[c]]
        rows.append((i, vec, c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_recovers_separated_clusters(spark):
    """On well-separated blobs, every learned cluster is pure: all
    members of a k-means cluster share one true label, and all three
    true labels are represented."""
    df = _clustered_df(spark)
    assigned, cents = kmeans_fit(df, k=3, iters=5)
    rows = assigned.select("cluster", "label").collect()
    by_cluster: dict[int, set[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.label)
    assert all(len(labels) == 1 for labels in by_cluster.values())
    assert len({next(iter(v)) for v in by_cluster.values()}) == 3


def test_kmeans_deterministic(spark):
    """Deterministic init + deterministic data ⇒ identical centroids
    and assignments across runs (retry/idempotence safety)."""
    df = _clustered_df(spark)
    _, c1 = kmeans_fit(df, k=3, iters=3)
    _, c2 = kmeans_fit(df, k=3, iters=3)
    assert c1 == c2


def test_assignment_is_argmin(spark):
    """Each point's reported dist equals the true min squared L2 over
    the centroids (cross-check against driver-side math)."""
    df = _clustered_df(spark, k=2, per=10)
    cents = [[1.0] * 8, [0.0] * 8]
    got = assign_clusters(df, cents).collect()
    for r in got:
        dists = [sum((x - y) ** 2 for x, y in zip(r.embedding, c)) for c in cents]
        assert r.cluster == dists.index(min(dists))
        assert abs(r.dist - min(dists)) < 1e-4


def test_kmeans_query_shape(spark, sf_dir):
    """Registered query: k rows, populations sum to the corpus size,
    non-negative dispersion."""
    from roborock_data_pipeline_spark.sources.tables import load

    n_corpus = load(spark, sf_dir, "embeddings").count()
    rows = q_kmeans_clusters(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 8
    assert sum(r.n_points for r in rows) == n_corpus
    assert all(r.avg_sq_dist >= 0 for r in rows)


def test_empty_cluster_keeps_previous_centroid(spark):
    """k larger than the number of distinct points: update must not
    drop the empty clusters' centroids (regression guard for the
    dict-merge in kmeans_fit)."""
    rows = [(i, [float(i % 2)] * 4) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = kmeans_fit(df, k=4, iters=2)
    assert len(cents) == 4
    assert assigned.count() == 8
