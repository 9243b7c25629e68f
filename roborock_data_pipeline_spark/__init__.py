"""roborock_data_pipeline_spark -- a PySpark-native analytics engine.

Re-expresses the query/data-processing capabilities of the reference
pipeline (nkratastr/roborock-data-pipeline) as idiomatic Spark
DataFrame/SQL operators, and adds the large-scale training-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis)
mandated by the north star.

Design stance (SURVEY.md sec 7):
- DataFrame/SQL only; no RDDs; no custom Catalyst rules.
- No Python UDFs on hot paths; Pandas UDFs only where built-ins
  genuinely can't express the semantics.
- Explicit StructType schemas; no inference.
- Batch folds, not long-running queries: the continuous monitor is
  one batch fold per call (``pipeline.mode_monitor``); the engine has
  no Structured Streaming.
- Every operator is a small pure function ``(spark, sf_dir) ->
  DataFrame`` registered in :mod:`.registry` so the driver contract
  (``__spark_entry__.py``) is assembled automatically.

Public surface -- everything else is internal. Code that none of
these reaches is deleted, or named with a reason on the allowlist of
tests/test_antipatterns.py, which guards it:

1. The query registry: ``registry.all_queries`` / ``get_query`` /
   ``query`` and each query's DuckDB ``oracle`` SQL, exposed to the
   driver as ``__spark_entry__.queries()`` / ``oracle_sql()``.
2. The ``pipeline`` CLI (``python -m
   roborock_data_pipeline_spark.pipeline --mode M``), M one of setup,
   status, log, smart, schedule, record_sync, monitor, history,
   daily_summary, daily_refresh, curate, health; the library forms
   ``pipeline.refresh_device_lifetime`` / ``gold_maintenance`` /
   ``run_scheduled``; and the readers of what those modes write:
   ``sinks.read_table`` / ``read_partitioned`` / ``read_batch_dirs``,
   ``pipeline.read_daily_summary`` / ``read_device_lifetime``,
   ``export.read_export``.
3. What ``perfbench/`` drives: ``session.get_spark``, the registry
   over ``bench.HEADLINE``, ``plans.inspect.plan_string``, and the
   ingest tick (``pipeline.mode_setup`` / ``mode_record_sync`` /
   ``mode_smart`` / ``mode_monitor`` / ``refresh_daily_summary`` /
   ``refresh_device_lifetime`` / ``gold_maintenance``, then the gold
   readers) over ``sinks.append_rows`` / ``list_batches`` /
   ``overwrite_partitions`` / ``vacuum_table``.
4. The commit seam: ``sources.commit_provider.BACKEND`` --
   ``LocalFSBackend`` by default; ``InMemoryObjectStoreBackend`` and
   ``FaultInjectingBackend`` model an object store and its faults.
"""

from roborock_data_pipeline_spark.registry import all_queries, get_query, query

__all__ = ["all_queries", "get_query", "query"]
