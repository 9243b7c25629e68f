"""SQL-API surface: subqueries, grouping sets, pivot, percentiles,
statistics, string functions, analytic windows.

These queries are written as `spark.sql` over registered views --
Catalyst produces the same plans as the DataFrame API, and the
correlated-subquery forms showcase its decorrelation (a correlated
scalar subquery becomes an aggregate + join, no per-row re-execution;
the reference has nothing comparable, its only "query language" is
Python loops).

Parity notes: Spark `percentile` (exact, interpolated) == DuckDB
`quantile_cont`; corr/stddev/var match at 6 dp (verified at two SFs);
`mode`/`min_by` are excluded from oracles -- tie-breaking is
engine-defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load, register_views

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _sql(spark: SparkSession, sf_dir: str, stmt: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(stmt)


@query(
    "q_pivot_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per category (explicit value list so the
    plan is a single pass -- no dictionary-discovery job)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS date,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type), (STRFTIME(ts, '%Y-%m-%d')), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: by-type, by-day, and grand total in one pass."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT event_type, date_format(ts, 'yyyy-MM-dd') AS date,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS total
        FROM events
        GROUP BY GROUPING SETS ((event_type), (date_format(ts, 'yyyy-MM-dd')), ())
        """,
    )


@query(
    "q_subquery_correlated",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery -- orders at >2x their customer's
    average. Catalyst decorrelates into an aggregate + join (visible
    in the plan: no per-row subquery execution)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                                  FROM orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
        """,
    )


@query(
    "q_subquery_in",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery -> planned as a left-semi join."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        """,
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.90), 4) AS p90
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles. At 100 TB switch to
    percentile_approx (t-digest sketch, mergeable map-side) -- same
    query shape, bounded memory."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 4).alias("p90"),
    )


@query("q_approx_percentiles")  # no oracle: sketch impls differ by engine
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for q_percentiles: approx_percentile
    (Greenwald-Khanna sketch -- mergeable map-side, bounded memory),
    the 100 TB replacement for exact interpolated percentiles whose
    sort-based evaluation doesn't scale. Rows-only driver check;
    tests/test_dedup.py-style accuracy bound asserted in
    tests/test_functions.py against the exact values."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
    )


@query(
    "q_corr_stats",
    oracle="""
    SELECT event_type,
           ROUND(CORR(value, CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
               AS corr_vk,
           ROUND(STDDEV(value), 6) AS sd_value,
           ROUND(VAR_SAMP(value), 6) AS var_value
    FROM events GROUP BY event_type
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: correlation / stddev / variance."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", k), 6).alias("corr_vk"),
        F.round(F.stddev("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 20) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi
    FROM events GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via bucketed group-by (one pass,
    partial-agg friendly -- the scalable histogram)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 20).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@query(
    "q_string_funcs",
    oracle="""
    SELECT doc_id,
           UPPER(lang) AS lang_uc,
           source || ':' || lang AS src_lang,
           LPAD(CAST(doc_id AS VARCHAR), 8, '0') AS doc_key,
           REGEXP_REPLACE(SUBSTRING(text, 1, 20), '[aeiou]', '', 'g') AS devoweled
    FROM documents
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions (P-family breadth): case, concat,
    padding, regex replace -- all codegen'd."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_uc"),
        F.concat_ws(":", "source", "lang").alias("src_lang"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_key"),
        F.regexp_replace(F.substring("text", 1, 20), "[aeiou]", "").alias(
            "devoweled"
        ),
    )


@query(
    "q_rank_dense",
    oracle="""
    SELECT user_id, event_id,
           RANK() OVER w AS rk,
           DENSE_RANK() OVER w AS drk,
           NTILE(4) OVER w AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    QUALIFY RANK() OVER w <= 5
    """,
)
def q_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking analytics: rank / dense_rank / ntile per device with a
    total order (value, event_id) so results are deterministic."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .where(F.col("rk") <= 5)
    )


@query(
    "q_date_parts",
    oracle="""
    SELECT event_id,
           CAST(EXTRACT(year FROM ts) AS INTEGER) AS y,
           CAST(EXTRACT(month FROM ts) AS INTEGER) AS mo,
           CAST(EXTRACT(day FROM ts) AS INTEGER) AS d,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h,
           CAST(EXTRACT(isodow FROM ts) AS INTEGER) AS iso_dow,
           CAST(ts + INTERVAL 7 DAY AS DATE) IS NOT NULL AS has_next_week
    FROM events
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar part extraction + date arithmetic. Convention trap
    handled explicitly: Spark `dayofweek` is 1=Sunday while DuckDB
    `isodow` is 1=Monday -- the engine emits ISO day-of-week
    (`weekday()+1`) so downstream logic is engine-portable."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        (F.weekday("ts") + 1).alias("iso_dow"),
        F.date_add(F.to_date("ts"), 7).isNotNull().alias("has_next_week"),
    )


@query(
    "q_deterministic_sample",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE SUBSTRING(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/8 sample via content hashing -- unlike
    `TABLESAMPLE`/`rand()`, the same rows are selected on every run,
    every engine, and every retry (resume-safe at 100 TB, and the
    predicate pushes to the scan)."""
    ev = load(spark, sf_dir, "events")
    return ev.where(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin("0", "1")
    ).select("event_id", "user_id", "event_type")


@query(
    "q_map_extract",
    oracle="""
    SELECT event_id,
           ARRAY_TO_STRING(json_keys(props), ',') AS prop_keys,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def q_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-object -> MapType column: parse once, then key/value ops
    are JVM-side collection functions (the engine's map-column
    surface; the reference's only map is its state dict)."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k"),
    )


@query(
    "q_array_agg",
    oracle="""
    SELECT user_id,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT event_type)), ',') AS state_set,
           CAST(LEN(LIST(DISTINCT event_type)) AS INTEGER) AS n_states
    FROM events GROUP BY user_id
    """,
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregation with a deterministic order
    (sorted set, emitted as a joined string so cross-engine value
    hashing is representation-independent)."""
    ev = load(spark, sf_dir, "events")
    states = F.sort_array(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.array_join(states, ",").alias("state_set"),
        F.size(states).alias("n_states"),
    )


@query(
    "q_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value - LAG(value) OVER w, 2) AS delta_prev,
           ROUND(LEAD(value) OVER w - value, 2) AS delta_next
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas -- the declarative form of the reference's
    previous-vs-current comparisons (pipeline.py:141-159)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"),
    )


@query(
    "q_ntile_dist",
    oracle="""
    SELECT event_id, event_type, value,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (ntile / percent_rank / cume_dist) -- the
    quantile-bucketing surface BI layers expect. One shuffle on the
    partition key; the (value, event_id) tiebreak makes every rank
    deterministic so the oracle comparison is exact."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
