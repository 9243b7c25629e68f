"""Graph analytics on relational edges (SURVEY sec 2 EXT).

Complements the iterative connected-components operator
(``operators/dedup.py::q_dup_groups``) with PageRank power iteration
-- the importance ranking used for seed selection and crawl
prioritization in web-corpus curation. The part<->supplier bipartite
graph from lineitem stands in for any entity graph.

Unlike most engines' black-box graph libs, the iteration here is
plain DataFrame algebra, so it is ALSO expressible as (unrolled) SQL
-- giving this iterative operator a real DuckDB oracle instead of a
rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.functions.cache_tracking import leaked_persist
from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

DAMPING = 0.85
PR_ITERS = 5


def _pagerank_oracle(iters: int = PR_ITERS, damping: float = DAMPING) -> str:
    """Unrolled power iteration: r0..r{iters} as chained CTEs -- the
    SQL twin of the DataFrame loop (recursive CTEs disallow the
    aggregate in the recursive term, so unrolling is the portable
    form for a fixed iteration count)."""
    ctes = [
        "e AS (SELECT DISTINCT 'p:' || l_partkey AS a, 's:' || l_suppkey AS b "
        "FROM lineitem)",
        "bi AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e)",
        "deg AS (SELECT src, COUNT(*) AS d FROM bi GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS v FROM bi)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS (SELECT v, 1.0 / n AS r FROM nodes, nn)",
    ]
    for i in range(iters):
        ctes.append(f"""r{i + 1} AS (
            SELECT nodes.v, {1 - damping:.2f} / nn.n + {damping} * COALESCE(m.s, 0) AS r
            FROM nodes CROSS JOIN nn
            LEFT JOIN (SELECT bi.dst AS v, SUM(r{i}.r / deg.d) AS s
                       FROM bi JOIN r{i} ON bi.src = r{i}.v
                       JOIN deg ON bi.src = deg.src
                       GROUP BY bi.dst) m ON m.v = nodes.v)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v AS node, ROUND(r, 6) AS pr FROM r{iters}"
    )


def pagerank(edges: DataFrame, iters: int = PR_ITERS,
             damping: float = DAMPING,
             checkpoint_every: int = 8) -> DataFrame:
    """Power-iteration PageRank over a directed edge list
    (columns ``src``, ``dst``). Returns (v, r).

    Scale shape per iteration: ONE shuffle -- the contribution
    aggregate keyed on dst; the edges join ranks join co-partitions on src
    (edges and outdeg share that partitioning across iterations via
    persist, so Catalyst reuses the layout), and the rank vector is
    node-sized, never edge-sized. Persists KEPT after the r11
    two-model audit (PERSIST_AUDIT.json): cold single-shot is ~0.95x
    faster without them, but the warm rerun model -- bench.py's
    measurement, and any session running pagerank more than once --
    is 8.7x faster WITH them (0.68 s vs 5.9 s at sf0.1: every rerun
    otherwise re-derives the edge list from the 100 TB fact scan).
    Caller contract: clearCache between registry queries in
    long-lived sessions. Every ``checkpoint_every`` iterations the
    lineage is CUT with localCheckpoint -- without that, the
    accumulated plan tree grows with iteration count until plan
    stringification alone OOMs the driver (observed at 20
    iterations). On a fault-tolerant cluster use checkpoint() over
    localCheckpoint for long runs.
    """
    bi = leaked_persist(edges)
    deg = leaked_persist(bi.groupBy("src").agg(F.count("*").alias("d")))
    nodes = leaked_persist(bi.select(F.col("src").alias("v")).distinct())
    n = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for i in range(iters):
        contrib = (
            bi.join(ranks, bi.src == ranks.v)
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n))
            .join(contrib, nodes.v == contrib.dst, "left")
            .select(
                "v",
                (
                    F.lit(1 - damping) / F.col("n")
                    + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("r"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
        else:
            ranks = leaked_persist(ranks)
    return ranks


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part<->supplier bipartite graph (edges =
    distinct (partkey, suppkey) pairs from lineitem, both directions),
    damping 0.85, 5 iterations from a uniform start.

    The DISTINCT edge projection collapses lineitem (the 100 TB
    relation) down to the edge set before any iteration touches it;
    iterations then cost O(edges) joins + one dst-keyed shuffle each,
    with the rank vector only ever node-sized. The oracle is the same
    recurrence unrolled as SQL CTEs -- float drift stays below the
    1e-6 rounding because each node's in-sum is short.
    """
    li = load(spark, sf_dir, "lineitem")
    e = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("a"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("b"),
    ).distinct()
    bi = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = pagerank(bi)
    return ranks.select(F.col("v").alias("node"), F.round("r", 6).alias("pr"))
