"""roborock_data_pipeline_spark -- a PySpark-native analytics engine.

Re-expresses the query/data-processing capabilities of the reference
pipeline (nkratastr/roborock-data-pipeline, read-only at
/root/reference) as idiomatic Spark DataFrame/SQL operators, and adds
the large-scale training-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) mandated by the north star.

Design stance (SURVEY.md sec 7):
- DataFrame/SQL only; no RDDs; no custom Catalyst rules.
- No Python UDFs on hot paths; Pandas UDFs only where built-ins
  genuinely can't express the semantics.
- Explicit StructType schemas; no inference.
- Every operator is a small pure function ``(spark, sf_dir) ->
  DataFrame`` registered in :mod:`.registry` so the driver contract
  (``__spark_entry__.py``) is assembled automatically.
"""

from roborock_data_pipeline_spark.registry import all_queries, get_query, query

__all__ = ["all_queries", "get_query", "query"]
