"""Data-quality audit (SURVEY sec 2 EXT -- pipeline guardrails).

The reference trusts its inputs blindly (no validation anywhere in
pipeline.py); a 100 TB ingest cannot. One audit query emits a
(check_name, value) row per invariant -- row counts, null keys,
duplicate PKs, FK orphans, domain-range violations -- so a scheduler
can gate downstream jobs on `value == 0` for the violation checks.

Scale shape: all per-table checks fold into ONE conditional
aggregation per table (a single scan each, map-side combined to one
row), not one scan per check; only the PK-duplicate and FK-orphan
checks add a shuffle (groupBy / anti-join on the key).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_dq_audit",
    oracle="""
    SELECT 'orders_rowcount' AS check_name, COUNT(*) AS value FROM orders
    UNION ALL
    SELECT 'orders_null_custkey', COUNT(*) FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_nonpositive_price', COUNT(*) FROM orders
    WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'orders_dup_pk', COUNT(*) FROM (
        SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1
    )
    UNION ALL
    SELECT 'lineitem_rowcount', COUNT(*) FROM lineitem
    UNION ALL
    SELECT 'lineitem_bad_discount', COUNT(*) FROM lineitem
    WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'lineitem_orphan_orderkey', COUNT(*) FROM lineitem l
    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    """,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality audit as one DataFrame of
    (check_name, value) metric rows -- see module docstring for the
    one-scan-per-table design."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    viol = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    o_checks = o.agg(
        F.count("*").alias("c_rows"),
        viol(F.col("o_custkey").isNull()).alias("c_null"),
        viol(F.col("o_totalprice") <= 0).alias("c_price"),
    ).select(
        F.expr(
            "stack(3, 'orders_rowcount', c_rows,"
            " 'orders_null_custkey', c_null,"
            " 'orders_nonpositive_price', c_price) AS (check_name, value)"
        )
    )
    li_checks = li.agg(
        F.count("*").alias("c_rows"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "c_disc"
        ),
    ).select(
        F.expr(
            "stack(2, 'lineitem_rowcount', c_rows,"
            " 'lineitem_bad_discount', c_disc) AS (check_name, value)"
        )
    )
    dup_pk = (
        o.groupBy("o_orderkey")
        .count()
        .where(F.col("count") > 1)
        .agg(F.count("*").alias("value"))
        .select(F.lit("orders_dup_pk").alias("check_name"), "value")
    )
    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("value"))
        .select(F.lit("lineitem_orphan_orderkey").alias("check_name"), "value")
    )
    return reduce(DataFrame.unionByName, [o_checks, li_checks, dup_pk, orphans])


@query(
    "q_outliers",
    oracle="""
    SELECT event_id, event_type, value, ROUND(z, 4) AS zscore
    FROM (
        SELECT event_id, event_type, value,
               (value - AVG(value) OVER (PARTITION BY event_type))
                   / STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS z
        FROM events
    )
    WHERE ABS(z) > 3
    """,
)
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier gate: events more than 3sigma from their
    type's mean -- the numeric-sanity sibling of q_dq_audit (a sensor
    stuck at 10x its range shows up here, not in the null checks).

    NOT a whole-partition window (PARTITION BY event_type would drag
    every row of a type through one task): the per-type stats are a
    partial-aggregated groupBy to a handful of rows, broadcast back
    onto the scan -- two map-only passes, no wide shuffle, same
    semantics as the oracle's window form."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("s")
    )
    z = (F.col("value") - F.col("m")) / F.col("s")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 3)
        .select(
            "event_id", "event_type", "value", F.round(z, 4).alias("zscore")
        )
    )


@query(
    "q_winsorize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_disc(value, 0.01) AS lo,
               quantile_disc(value, 0.99) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 4) AS winsorized,
           e.value <> LEAST(GREATEST(e.value, b.lo), b.hi) AS clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each reading into its type's [p1, p99]
    band -- the repair twin of q_outliers (that one flags, this one
    fixes, both per-type).

    Same broadcast-stats shape: the per-type bounds are one
    partial-aggregated groupBy to a handful of rows, broadcast back
    onto the scan; the clip is codegen least/greatest. At 100 TB the
    exact percentile becomes approx_percentile (mergeable sketch) --
    the q_percentiles/q_approx_percentiles ladder applies verbatim.

    Bounds are DISCRETE percentiles (actual data values, SQL-standard
    percentile_disc == DuckDB quantile_disc, probed equal on
    tie/even/odd edge sets): interpolated percentiles put the clip
    threshold between data points as a float expression whose last
    digit differs across engines exactly when the data is tied at the
    cut -- the sf1 probe's 10x replication parked p01/p99 on such a
    knife edge. A value from the data has no interpolation to
    disagree about, at any scale."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY value)").alias(
            "lo"
        ),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias(
            "hi"
        ),
    )
    clip = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(clip, 4).alias("winsorized"),
            (F.col("value") != clip).alias("clipped"),
        )
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1),
    mad AS (
        SELECT e.event_type,
               quantile_cont(ABS(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type)
    SELECT e.event_type,
           COUNT(*)::BIGINT AS n,
           ROUND(ANY_VALUE(m.med), 2) AS med,
           ROUND(ANY_VALUE(d.mad), 2) AS mad,
           SUM(CASE WHEN ABS(e.value - m.med) > 3 * 1.4826 * d.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit via median absolute deviation: per event
    type, how many values sit beyond 3 robust standard deviations
    (1.4826*MAD) of the median.

    The z-score gate (q_outliers) breaks down when the outliers
    themselves inflate the mean/stddev; MAD is the standard robust
    replacement. Two exact-percentile aggregations collapse events to
    |types| rows each; both tiny tables broadcast back onto the fact
    scan, so the flagging pass is one map-side comparison -- the fact
    table shuffles only for the two groupBys (and at scale the exact
    percentiles swap for approx_percentile sketches, same shape as
    q_approx_percentiles)."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("med"), 2).alias("med"),
            F.round(F.any_value("mad"), 2).alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "q_lang_drift",
    oracle="""
    WITH corpus AS (
        SELECT lang,
               COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM documents) AS q
        FROM documents GROUP BY lang),
    per_src AS (
        SELECT source, lang, COUNT(*)::BIGINT AS n
        FROM documents GROUP BY 1, 2),
    tot AS (SELECT source, SUM(n)::BIGINT AS tn FROM per_src GROUP BY 1)
    SELECT s.source,
           ROUND(SUM((s.n::DOUBLE / t.tn)
                     * LN((s.n::DOUBLE / t.tn) / c.q)), 6) AS kl
    FROM per_src s
    JOIN tot t USING (source)
    JOIN corpus c USING (lang)
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def q_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: KL divergence of each source's
    language mix against the whole-corpus mix -- the monitoring
    signal that catches one ingest feed silently going monolingual
    before it skews training data.

    Everything after the one corpus groupBy runs on |sources|x|langs|
    rows: the corpus marginal (|langs| rows) and per-source totals
    broadcast onto the contingency table, and the KL sum collapses
    <=|langs| terms per source. A zero-count (source, lang) cell
    contributes nothing (inner join semantics = 0*log0 := 0, the
    standard KL convention)."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    total = docs.agg(F.count("*").alias("total"))
    corpus = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("nl"))
        .crossJoin(F.broadcast(total))
        .select("lang", (F.col("nl").cast("double") / F.col("total")).alias("q"))
    )
    tot = per_src.groupBy("source").agg(F.sum("n").alias("tn"))
    p = F.col("n").cast("double") / F.col("tn")
    return (
        per_src.join(F.broadcast(tot), "source")
        .join(F.broadcast(corpus), "lang")
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / F.col("q"))), 6).alias("kl"))
        # no terminal orderBy (r11): presentation-only global sort
    )


PSI_EDGES = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0]
PSI_EPS = 1e-6


@query(
    "q_numeric_drift",
    oracle=f"""
    WITH binned AS (
        SELECT event_type,
               len(list_filter({PSI_EDGES!r}::DOUBLE[],
                               x -> value > x)) AS bin
        FROM events),
    per_type AS (
        SELECT event_type, bin, COUNT(*)::DOUBLE AS n
        FROM binned GROUP BY 1, 2),
    tt AS (SELECT event_type, SUM(n) AS tn FROM per_type GROUP BY 1),
    corpus AS (
        SELECT bin, SUM(n) AS cn FROM per_type GROUP BY bin),
    ct AS (SELECT SUM(cn) AS ctot FROM corpus)
    SELECT p.event_type,
           ROUND(SUM((GREATEST(p.n / t.tn, {PSI_EPS})
                      - GREATEST(c.cn / x.ctot, {PSI_EPS}))
                     * LN(GREATEST(p.n / t.tn, {PSI_EPS})
                          / GREATEST(c.cn / x.ctot, {PSI_EPS}))), 6) AS psi
    FROM per_type p
    JOIN tt t USING (event_type)
    JOIN corpus c USING (bin)
    CROSS JOIN ct x
    GROUP BY p.event_type
    ORDER BY p.event_type
    """,
)
def q_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each event type's value
    distribution against the pooled corpus -- the numeric twin of
    q_lang_drift (categorical KL): the alert that one event family's
    metric quietly shifted regime.

    Binning is a pure-codegen filter-count against a literal edge
    array (in production the edges come from last month's
    approx-percentiles -- a 9-row broadcast); everything after the
    one groupBy runs on |types|x|bins| rows with broadcast marginals.
    The eps-floor is the standard PSI guard for empty cells, applied
    identically in both engines so parity is exact."""
    ev = load(spark, sf_dir, "events")
    edges = F.array(*[F.lit(e) for e in PSI_EDGES])
    binned = ev.select(
        "event_type",
        F.size(F.filter(edges, lambda x: F.col("value") > x)).alias("bin"),
    )
    per_type = binned.groupBy("event_type", "bin").agg(
        F.count("*").cast("double").alias("n")
    )
    tt = per_type.groupBy("event_type").agg(F.sum("n").alias("tn"))
    corpus = per_type.groupBy("bin").agg(F.sum("n").alias("cn"))
    ct = corpus.agg(F.sum("cn").alias("ctot"))
    p = F.greatest(F.col("n") / F.col("tn"), F.lit(PSI_EPS))
    q = F.greatest(F.col("cn") / F.col("ctot"), F.lit(PSI_EPS))
    return (
        per_type.join(F.broadcast(tt), "event_type")
        .join(F.broadcast(corpus), "bin")
        .crossJoin(F.broadcast(ct))
        .groupBy("event_type")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
        # no terminal orderBy (r11): presentation-only global sort
    )
