"""Accuracy-bound checks for the sketch/ANN/iterative queries
(VERDICT r2 next-#6).

The eight rows-only queries (`q_approx_distinct`, `q_hll_daily_users`,
`q_approx_percentiles`, `q_dedup_minhash`, `q_dedup_simhash`,
`q_similarity_lsh`, `q_similarity_ivf`, `q_kmeans_clusters`) can never
hash-match an ANSI oracle -- their raw outputs are engine-specific by
construction. What IS oracle-expressible is the *accuracy contract*
each one carries: estimate-within-bound of an exact twin, recall
against ground truth, or a partition invariant. Each check below runs
the sketch AND its exact twin in one Spark job, reduces to
(exact-valued columns + within-bound booleans), and pairs with a
DuckDB oracle that computes the same exact values and expects the
booleans true -- so the driver's hash compare becomes a first-class
accuracy gate instead of a weak rows-only count.

Bounds mirror the pytest suite (test_dedup.py, test_functions.py,
test_similarity.py) with slack for scale-factor variation; each is
also verified empirically at sf0.001 / sf0.01 / sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark import registry
from roborock_data_pipeline_spark.operators import dedup as _dedup  # registers
from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

# Wrap the exact-jaccard oracle (the ground-truth pair set) for the
# minhash recall check -- shared text, so the definitions cannot drift.
_JACCARD_ORACLE = registry._REGISTRY["q_near_dup_jaccard"].oracle


@query(
    "q_approx_distinct_check",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_devices_exact,
           COUNT(DISTINCT event_type) AS n_states_exact,
           TRUE AS devices_within_2pct,
           TRUE AS states_within_2pct
    FROM events
    """,
)
def q_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ estimate vs exact distinct over events: the
    driver-visible form of test_dedup.py's <=max(2, 2%) bound.

    Gates the SAME estimator q_approx_distinct ships (DataSketches
    HLL, lgK=14 -- see its docstring for the r14 measured switch off
    the wide-buffer HLL++). Both aggregates run over the DISTINCT
    key sets, one per column, joined on their 1-row outputs -- NOT
    one four-function agg over the raw events (the pre-r14 shape,
    measured 2.6x the whole query at sf0.1). Two wins, both
    semantics-free:

    - an HLL sketch is duplicate-idempotent, so sketching the
      deduplicated keys yields the identical estimate over 1,500
      rows instead of 100,000;
    - the exact twin needs that distinct set anyway, and computing
      it as ONE per-column partial-agged distinct avoids the
      distinct-rewrite Expand keying the partial aggregation by
      (user_id, event_type, gid) and shipping a sketch buffer once
      per distinct user_id group.

    The isNotNull guards match countDistinct/hll_sketch_agg's null
    handling (both skip nulls), so outputs are unchanged.

    Coverage note (ADVICE r14): because this gate sketches the
    pre-deduplicated key set, it does not exercise the sketch's
    cross-partition merge path (sparse->dense promotion at volume);
    that path is covered by q_hll_daily_users_check, which sketches
    the raw per-day event stream."""
    ev = load(spark, sf_dir, "events")
    dev = ev.where(F.col("user_id").isNotNull()).select("user_id").distinct()
    dst = (
        ev.where(F.col("event_type").isNotNull())
        .select("event_type")
        .distinct()
    )
    exact_u = dev.agg(
        F.count("*").alias("n_devices_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14)))
        .alias("ad"),
    )
    exact_t = dst.agg(
        F.count("*").alias("n_states_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("event_type", F.lit(14)))
        .alias("ast"),
    )
    agg = exact_u.crossJoin(F.broadcast(exact_t))  # two 1-row aggregates
    return agg.select(
        "n_devices_exact",
        "n_states_exact",
        (
            F.abs(F.col("ad") - F.col("n_devices_exact"))
            <= F.greatest(F.lit(2.0), 0.02 * F.col("n_devices_exact"))
        ).alias("devices_within_2pct"),
        (
            F.abs(F.col("ast") - F.col("n_states_exact"))
            <= F.greatest(F.lit(1.0), 0.02 * F.col("n_states_exact"))
        ).alias("states_within_2pct"),
    )


@query(
    "q_approx_percentiles_check",
    oracle="""
    SELECT COUNT(DISTINCT event_type) AS n_types,
           TRUE AS all_within_5pct
    FROM events
    """,
)
def q_approx_percentiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approx percentiles vs exact interpolated
    percentiles per event_type, all groups within max(1.0, 5%)
    (test_functions.py's bound)."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("e50"),
        F.expr("percentile(value, 0.9)").alias("e90"),
        F.percentile_approx("value", 0.5, 10000).alias("a50"),
        F.percentile_approx("value", 0.9, 10000).alias("a90"),
    )
    within = (
        F.abs(F.col("a50") - F.col("e50"))
        <= F.greatest(F.lit(1.0), 0.05 * F.abs(F.col("e50")))
    ) & (
        F.abs(F.col("a90") - F.col("e90"))
        <= F.greatest(F.lit(1.0), 0.05 * F.abs(F.col("e90")))
    )
    return per.agg(
        F.count("*").alias("n_types"),
        F.min(within).alias("all_within_5pct"),
    )


@query(
    "q_hll_daily_users_check",
    oracle="""
    SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           TRUE AS all_days_within_5pct
    FROM events
    """,
)
def q_hll_daily_users_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL per-day user estimates vs exact per-day
    distincts, every day within max(2, 5%)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
        F.countDistinct("user_id").alias("exact"),
    )
    within = F.abs(F.col("est") - F.col("exact")) <= F.greatest(
        F.lit(2.0), 0.05 * F.col("exact")
    )
    return daily.agg(
        F.count("*").alias("n_days"),
        F.min(within).alias("all_days_within_5pct"),
    )


@query(
    "q_dedup_minhash_check",
    oracle=f"""
    SELECT COUNT(*) AS n_true_pairs, TRUE AS recall_ok
    FROM ({_JACCARD_ORACLE})
    """,
)
def q_dedup_minhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH recall against the exact blocked-jaccard pair set:
    >= 95% of true near-dup pairs must surface as verified candidates
    (test_dedup.py pins 100% at sf0.001; 32 perms / 16 bands puts the
    collision floor at ~99% for jaccard 0.5)."""
    truth = _dedup.q_near_dup_jaccard(spark, sf_dir).select(
        "doc_id_1", "doc_id_2"
    )
    found = _dedup.q_dedup_minhash(spark, sf_dir).select(
        "doc_id_1", "doc_id_2", F.lit(1).alias("hit")
    )
    joined = truth.join(found, ["doc_id_1", "doc_id_2"], "left")
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        (F.count("hit") >= 0.95 * F.count("*")).alias("recall_ok"),
    )


@query(
    "q_dedup_simhash_check",
    oracle="""
    SELECT COUNT(*) AS n_exact_dup_pairs, TRUE AS all_found
    FROM (SELECT md5(text) AS h, doc_id FROM documents) a
    JOIN (SELECT md5(text) AS h, doc_id FROM documents) b
      ON a.h = b.h AND a.doc_id < b.doc_id
    """,
)
def q_dedup_simhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash completeness on the deterministic core: identical
    documents have identical simhashes (same block, hamming 0), so
    every exact-duplicate pair MUST appear in the hamming<=8 output --
    recall 1.0 by construction, and a regression tripwire for the
    signature/blocking code."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select(F.md5("text").alias("h"), "doc_id")
    exact_pairs = (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
    )
    found = _dedup.q_dedup_simhash(spark, sf_dir).select(
        "doc_id_1", "doc_id_2", F.lit(1).alias("hit")
    )
    joined = exact_pairs.join(found, ["doc_id_1", "doc_id_2"], "left")
    return joined.agg(
        F.count("*").alias("n_exact_dup_pairs"),
        (F.count("hit") == F.count("*")).alias("all_found"),
    )


def _ann_ratio_check(
    truth: DataFrame, approx: DataFrame, bound: float
) -> DataFrame:
    """(k, ratio_ok): ANN approximation ratio -- mean cosine of the ANN
    top-k vs mean cosine of the exact top-k.

    Exact-id recall is the wrong metric on this corpus: the synthetic
    embeddings are near-uniform (exact top-10 mean cosine ~0.3), so
    the true top-k is an essentially arbitrary subset of a large
    near-tied shell and any partition-based ANN recovers ~the probed
    fraction of it (measured 0.1-0.6 across SFs -- geometry, not
    implementation). The approximation ratio measures what ANN
    actually promises -- neighbors nearly as close as the exact ones --
    and sits at 0.78-0.94 across SFs here; bound 0.7."""
    t = truth.agg(
        F.count("*").alias("k"), F.avg("cosine").alias("exact_mean")
    )
    a = approx.agg(F.avg("cosine").alias("ann_mean"))
    return t.crossJoin(a).select(
        "k",
        (F.col("ann_mean") >= bound * F.col("exact_mean")).alias("ratio_ok"),
    )


@query(
    "q_similarity_lsh_check",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS ratio_ok",
)
def q_similarity_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-10 vs brute-force exact top-10: the mean
    cosine of the returned neighbors must reach 70% of the exact
    optimum (see _ann_ratio_check for why ratio, not id-recall)."""
    from roborock_data_pipeline_spark.operators.similarity import (
        q_similarity_lsh,
        q_similarity_search,
    )

    return _ann_ratio_check(
        q_similarity_search(spark, sf_dir),
        q_similarity_lsh(spark, sf_dir),
        bound=0.7,
    )


@query(
    "q_similarity_ivf_check",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS ratio_ok",
)
def q_similarity_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (nprobe=2) top-10 vs brute force, approximation ratio >=
    0.7 (see _ann_ratio_check)."""
    from roborock_data_pipeline_spark.operators.similarity import (
        q_similarity_ivf,
        q_similarity_search,
    )

    return _ann_ratio_check(
        q_similarity_search(spark, sf_dir),
        q_similarity_ivf(spark, sf_dir),
        bound=0.7,
    )


@query(
    "q_kmeans_clusters_check",
    oracle="""
    SELECT COUNT(*) AS n_vectors,
           TRUE AS k_bounded,
           TRUE AS dists_nonneg
    FROM embeddings
    """,
)
def q_kmeans_clusters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means partition invariants, driver-checkable: every vector is
    assigned to exactly one cluster (populations sum to the corpus
    size -- an exact-valued oracle column), at most k clusters emerge,
    and mean squared distances are non-negative."""
    from roborock_data_pipeline_spark.operators.clustering import (
        q_kmeans_clusters,
    )

    res = q_kmeans_clusters(spark, sf_dir)
    return res.agg(
        F.sum("n_points").alias("n_vectors"),
        (F.count("*") <= 8).alias("k_bounded"),
        F.min(F.col("avg_sq_dist") >= 0).alias("dists_nonneg"),
    )


@query(
    "q_similarity_pq_check",
    oracle="SELECT CAST(10 AS BIGINT) AS k, TRUE AS ratio_ok",
)
def q_similarity_pq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (16x4-bit codes, ADC scan) top-10 vs brute force,
    approximation ratio >= 0.7 (see _ann_ratio_check; measured
    0.82-0.86 across SFs at the m=16 default)."""
    from roborock_data_pipeline_spark.operators.similarity import (
        q_similarity_pq,
        q_similarity_search,
    )

    return _ann_ratio_check(
        q_similarity_search(spark, sf_dir),
        q_similarity_pq(spark, sf_dir),
        bound=0.7,
    )


# ---------------------------------------------------------------------------
# Cap-engaged block-population gates (r9, closing VERDICT r8 "weak" #1):
# every other approximate path has an accuracy gate, but the BLOCK_CAP
# sub-split had none that ran WHILE THE CAP WAS ENGAGED -- a 100 TB user
# whose blocks overflow the cap got silently degraded NN graphs. The
# testdata corpus is near-uniform (zero cos >= 0.9 pairs at any SF), so
# a recall gate on it would be vacuous: both gates instead run on a
# twin-AUGMENTED corpus -- every vector unioned with an identical twin at
# vec_id + 1_000_000, the same cos~1 twin structure the sf1 scale
# generator creates -- which doubles every block and, with GATE_CAP=16,
# forces the cap to engage at every test SF (max base block 218 at
# sf0.1 -> g in [8, 28]). The old vec_id-hash sub-split scores ~1/g
# twin recall here; the banded LSH sub-split must score >= 95%.

# Design envelope: GATE_CAP=16 puts the augmented test-SF blocks at
# g = ceil(n/cap) in [8, 28] -- inside the banded-LSH sub-split's
# 2^_SIG_BITS = 64-way envelope, the regime the gate is meant to
# measure. Far beyond it (e.g. the sf1 corpus augmented: g ~ 273)
# the hash backstop dominates by design and recall degrades
# gracefully; sf1 evidence for the REAL cap comes from the direct
# 170/170 parity sweep instead (CORRECTNESS_SF1.json).
GATE_CAP = 16
_TWIN_OFFSET = 1_000_000

# DuckDB view of the same augmented corpus (identical twins, so the
# augmentation is engine-independent by construction).
_AUG_SQL = """
        SELECT vec_id, label, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, label, embedding FROM embeddings
"""


def _augmented(spark: SparkSession, sf_dir: str):
    from roborock_data_pipeline_spark.sources.tables import spread

    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    return emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(_TWIN_OFFSET))
    )


@query(
    "q_semantic_dedup_check",
    oracle=f"""
    WITH aug AS ({_AUG_SQL}),
    e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM aug
    ), normed AS (
        SELECT vec_id, label, v,
               SQRT(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
        FROM e
    ), pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM normed a JOIN normed b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_aggregate(list_transform(list_zip(a.v, b.v),
                  p -> p[1] * p[2]), 'sum') / (a.nrm * b.nrm) >= 0.9
    )
    SELECT COUNT(*) AS n_true_pairs,
           COUNT(DISTINCT id2) AS n_true_losers,
           TRUE AS recall_ok,
           TRUE AS survivors_ok
    FROM pairs
    """,
)
def q_semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-engaged SemDeDup gate: on the twin-augmented corpus with
    GATE_CAP forced low, >= 95% of true near-dup pairs must survive
    the sub-split, and the keep-lowest survivor set may grow by at
    most max(2, 2%) extra survivors vs exact. Exact-valued columns
    (true pair/loser counts from the engine's own uncapped run) ride
    along so the oracle hash-checks the ground truth too."""
    from roborock_data_pipeline_spark.operators.similarity import blocked_pairs

    aug = _augmented(spark, sf_dir)
    exact = (
        blocked_pairs(
            aug, cap=10**9, min_cos=0.9, tag="gate_exact_truth"
        )
        .select("id1", "id2")
    )
    capped = (
        blocked_pairs(
            aug, cap=GATE_CAP, min_cos=0.9, tag="gate_capped"
        )
        .select("id1", "id2", F.lit(1).alias("hit"))
    )
    j = exact.join(capped, ["id1", "id2"], "left")
    extra_survivors = F.countDistinct("id2") - F.countDistinct(
        F.when(F.col("hit").isNotNull(), F.col("id2"))
    )
    return j.agg(
        F.count("*").alias("n_true_pairs"),
        F.countDistinct("id2").alias("n_true_losers"),
        (F.count("hit") >= 0.95 * F.count("*")).alias("recall_ok"),
        (
            extra_survivors
            <= F.greatest(F.lit(2.0), 0.02 * F.countDistinct("id2"))
        ).alias("survivors_ok"),
    )


@query(
    "q_knn_join_check",
    oracle=f"""
    WITH aug AS ({_AUG_SQL}),
    e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM aug
    ), n AS (
        SELECT vec_id, label, v,
               SQRT(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
        FROM e
    ), p AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr,
               ROUND(list_aggregate(list_transform(list_zip(a.v, b.v),
                         q -> q[1] * q[2]), 'sum') / (a.nrm * b.nrm), 6) AS cos
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), r AS (
        SELECT src, cos,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY cos DESC, nbr) AS rk
        FROM p
    )
    SELECT COUNT(*) AS n_edges,
           COUNT(DISTINCT src) AS n_vecs,
           TRUE AS twin_recall_ok,
           TRUE AS ratio_ok
    FROM r WHERE rk <= 3
    """,
)
def q_knn_join_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-engaged k-NN gate on the twin-augmented corpus, rank-
    aligned: at every (vec_id, rk) the capped neighbor's cosine is
    compared to the exact neighbor's. Two promises: (1) twin edges
    (exact cosine >= 0.9 -- each vector's identical twin at rank 1)
    must surface in the capped graph >= 95% of the time; (2) the
    capped graph's mean neighbor cosine must reach 80% of the exact
    optimum -- on the near-uniform shell (exact rank-2/3 neighbors sit
    in a near-tied band) edge-id recall is the wrong metric, the
    approximation ratio is what a capped NN graph actually promises
    (same argument as _ann_ratio_check)."""
    from roborock_data_pipeline_spark.operators.similarity import knn_join

    aug = _augmented(spark, sf_dir)
    # the truth side must be UNCAPPED (cap high enough that the exact
    # regime holds on any corpus) -- at the default cap a large-enough
    # block would silently make this capped-vs-capped and vacuous
    exact = knn_join(aug, cap=10**9).select(
        "vec_id", "rk", F.col("cosine").alias("ec")
    )
    capped = knn_join(aug, cap=GATE_CAP).select(
        "vec_id", "rk", F.col("cosine").alias("cc")
    )
    j = exact.join(capped, ["vec_id", "rk"], "left")
    return j.agg(
        F.count("*").alias("n_edges"),
        F.countDistinct("vec_id").alias("n_vecs"),
        (
            F.count(F.when((F.col("ec") >= 0.9) & (F.col("cc") >= 0.9), 1))
            >= 0.95 * F.count(F.when(F.col("ec") >= 0.9, 1))
        ).alias("twin_recall_ok"),
        (
            # SHIFTED scale (r10, advisor item): cosine lives in
            # [-1, 1], so avg(cc) >= 0.8*avg(ec) inverts strictness
            # when avg(ec) < 0 and coalesce(cc, 0) would credit a
            # MISSING capped edge with a mid-range value. Shifting
            # both sides by +1 maps to [0, 2] where the 0.8 ratio is
            # monotone-strict everywhere and a missing edge scores
            # the worst possible (-1 -> 0).
            F.avg(F.coalesce(F.col("cc"), F.lit(-1.0))) + F.lit(1.0)
            >= 0.8 * (F.avg("ec") + F.lit(1.0))
        ).alias("ratio_ok"),
    )
