"""Semi-structured (VARIANT) columns -- Spark 4 native JSON handling.

The reference stores device state as ad-hoc JSON (state file:
src/state_manager.py:24-38) and the testdata carries a JSON string
column (`events.props`). Round 1 extracted it with
`get_json_object`/`from_json` (q_json_extract, q_map_extract) --
string re-parsing on every access. This module is the scale-correct
form: parse ONCE into Spark 4's `VariantType` (a shredded binary
encoding) and do typed path extraction with `variant_get`, which
skips the per-access JSON tokenizer.

100 TB posture: at ingest, `parse_json` materializes the variant
column in parquet; every downstream query then pays binary
path-walks, not text parsing, and columnar readers can prune
shredded sub-fields. The oracle reads the same path with DuckDB's
JSON extraction, proving the typed semantics line up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load


@query(
    "q_variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(*)::BIGINT AS n,
           ROUND(AVG(json_extract_string(props, '$.k')::INT), 2) AS avg_k,
           MAX(json_extract_string(props, '$.k')::INT) AS max_k,
           SUM(CASE WHEN json_extract_string(props, '$.k')::INT > 50
                    THEN 1 ELSE 0 END)::BIGINT AS n_high
    FROM events GROUP BY event_type
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed aggregation over a VARIANT-parsed JSON property column:
    per event type, count / mean / max of `props.k` plus a
    threshold count.

    `parse_json` -> `variant_get(..., '$.k', 'int')` happens inside
    whole-stage codegen (no Python, no schema inference pass); the
    aggregate is an ordinary partial+final hash agg on a 5-value
    key. On materialized variant columns the parse disappears
    entirely and only the binary path-walk remains -- the reason this
    beats get_json_object at the 100 TB grain."""
    ev = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high"),
    )
